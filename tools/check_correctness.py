"""Local differential harness mimicking the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and the matching
``oracle_sql()`` on DuckDB over the same parquet tables, then compares:

- row count
- column names (sorted)
- order-insensitive value hash (rows canonicalized to strings, sorted)

DRIVER PARITY (round 4): both result sets are routed through pandas —
``sdf.toPandas()`` on the Spark side and ``rel.df()`` on the DuckDB side —
because that is what the driver does.  This surfaces two real traps the
old ``fetchall()`` path hid:

- DuckDB types ``SUM(BIGINT)`` as HUGEINT, which pandas coerces to
  float64 — so an uncast oracle sum hashes as ``"3.0"`` against Spark's
  ``"3"`` and the driver flags a false mismatch.  Oracle SQL must
  ``CAST(... AS BIGINT)`` every HUGEINT-producing output column.
- The driver's canonicalizer crashes on list/array-typed output columns
  (``sort_values`` → "unhashable type: list").  Any list-valued cell on
  either side is reported as a hard FAIL here.

Usage:  python tools/check_correctness.py [--bare] [sf_dir] [query ...]

``--bare`` runs against a plain ``SparkSession.builder.getOrCreate()``
with none of the engine factory's configs — exactly how the driver calls
the contract; every query must self-provision its session needs via
``_prep``.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

# Long single-JVM sweeps need the 16g heap (VERDICT r12 #1); the
# library default is 4g, so sweep entry points scope the bump here.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "16g")

import numpy as np
import pandas as pd

REPO = "/root/repo"
sys.path.insert(0, REPO)


class ListColumnError(ValueError):
    """A list/array/map-valued cell that would crash the driver."""


def _canon_cell(v) -> str:
    """Canonicalize one pandas cell to a comparison string.

    Both engines' results pass through pandas first, so type families are
    already coerced the way the driver sees them (HUGEINT→float64,
    DATE→midnight Timestamp, nullable BIGINT→float64).  The rules here
    only need to be *consistent across both sides*, plus normalize the
    date-vs-midnight-timestamp split (Spark's toPandas keeps
    ``datetime.date`` objects where DuckDB yields ``Timestamp``).
    """
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (list, tuple, dict, np.ndarray)):
        raise ListColumnError(
            "list/array/map-typed output column — the driver canonicalizer "
            "crashes on these; return scalar columns (posexplode arrays)"
        )
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NULL"
        return repr(f)
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        # DuckDB's .df() renders DATE as a midnight Timestamp; normalize
        # Spark's datetime.date to the same string.
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon_pdf(pdf: pd.DataFrame) -> tuple[list[str], list[str]]:
    """Return (sorted column names, sorted canonical row lines)."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_canon_cell(row[i]) for i in order)
        for row in pdf.itertuples(index=False, name=None)
    )
    return sorted(cols), lines


def _hash(lines: list[str]) -> str:
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> None:
    args = sys.argv[1:]
    bare = "--bare" in args
    if bare:
        args.remove("--bare")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import duckdb

    import __spark_entry__ as entrymod

    if bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-correctness-bare")
            .getOrCreate()
        )
    else:
        from blueforty___etl_data_pipeline_spark.session import get_spark

        spark = get_spark(app_name="check-correctness")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        try:
            sc, slines = canon_pdf(spdf)
        except ListColumnError as e:
            print(f"FAIL {name}: spark result: {e}")
            n_fail += 1
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        try:
            oc, olines = canon_pdf(opdf)
        except ListColumnError as e:
            print(f"FAIL {name}: oracle result: {e}")
            n_fail += 1
            continue
        ok_n = len(spdf) == len(opdf)
        ok_c = sc == oc
        ok_h = _hash(slines) == _hash(olines)
        if ok_n and ok_c and ok_h:
            print(f"PASS {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(
                f"FAIL {name}: rows {len(spdf)} vs {len(opdf)} "
                f"cols_match={ok_c} hash_match={ok_h}"
            )
            if not ok_c:
                print(f"  spark cols:  {sc}\n  oracle cols: {oc}")
            elif not ok_h:
                for a, b in zip(slines, olines):
                    if a != b:
                        print(f"  spark:  {a[:200]}\n  oracle: {b[:200]}")
                        break
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    if n_fail:
        sys.exit(1)


if __name__ == "__main__":
    main()
