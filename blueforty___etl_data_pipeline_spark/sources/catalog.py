"""Table catalog over the driver's synthetic Parquet tables.

The reference's namespace DDL (CREATE DATABASE/SCHEMA, BlueForty.py:15-19)
maps to Spark catalog databases; for this project the tables are plain
Parquet files registered as temp views — Catalyst still gets full predicate
pushdown, column pruning, and stats from the Parquet footers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session confs that change what parquet schema inference returns for
#: the same file; they are part of the schema-cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: (absolute path, inference conf values) -> (file state, inferred
#: schema).  A process-wide memo is safe to share: the entry is a pure
#: function of the bytes on disk and the confs, and a rewrite replaces
#: the path's entry.  Only schemas are kept, never DataFrames: every
#: load builds a fresh relation, so a self-join of two loads gets
#: distinct attribute ids on each side.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_state(path: str) -> tuple | None:
    """Identity of the bytes at ``path``: (size, mtime) of a file, or the
    sorted (relative path, size, mtime) listing of a directory's data
    files (names starting with ``.`` or ``_`` are skipped, as Spark
    skips them).  ``None`` when the path cannot be stat'ed (remote
    object stores, missing files)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_size, st.st_mtime_ns)
        listing = []
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for f in files:
                if f.startswith((".", "_")):
                    continue
                full = os.path.join(root, f)
                fst = os.stat(full)
                listing.append(
                    (os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns)
                )
        return tuple(sorted(listing))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the inferred schema pinned after
    the first read: schema inference runs a Spark job per read, so a
    cached schema (keyed on the file's identity and the inference confs)
    is passed back in through ``spark.read.schema``.  Rewriting the file
    or flipping one of the confs re-infers."""
    state = _file_state(path)
    if state is None:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        tuple(spark.conf.get(c) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == state:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (state, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table.  Plain columnar scan: filters and column
    selections applied by the caller reach the Parquet reader (verify with
    ``.explain`` → ``PushedFilters`` / ``ReadSchema``).  The schema is
    inferred once per file version and pinned on later reads
    (``_read_parquet``), so a repeat load starts no Spark job.

    ``events`` needs special handling: some generations of the fixture
    store ``ts`` as parquet TIMESTAMP(NANOS), which Spark 4 refuses to
    read natively (PARQUET_TYPE_ILLEGAL).  We enable the legacy
    nanos-as-long conf before reading and then normalize on the OBSERVED
    dtype: a bigint ``ts`` (nanos fixture) is truncated to a microsecond
    timestamp — integer ``div`` (not ``/``, which is a double division
    and loses precision past 2^53) so the value agrees bit-for-bit with
    engines that truncate ns→µs; a native timestamp ``ts`` (micros
    fixture) passes through untouched.  Keying on the read schema rather
    than an assumed physical type keeps the loader correct across
    fixture regenerations.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            # Micros fixture without UTC-adjustment flag: wall-clock
            # values ARE UTC instants here.  Cast to TIMESTAMP (LTZ) —
            # watermarks/F.window event time and unix_micros require LTZ
            # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise).  The cast
            # is only correct under a UTC session zone; that invariant is
            # established once at session construction (session.py /
            # _prep), never mutated here — a loader that silently flips a
            # session-wide conf changes timestamp semantics for every
            # other query in the session.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz != "UTC":
                raise RuntimeError(
                    "load_table('events') requires "
                    f"spark.sql.session.timeZone=UTC (got {tz!r}); build "
                    "the session with session.get_spark() or set the conf "
                    "before loading."
                )
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def ensure_namespace(spark: SparkSession, database: str) -> None:
    """Namespace DDL (S12): CREATE DATABASE IF NOT EXISTS + USE
    (BlueForty.py:15-19, :205).  With a metastore this creates a real
    catalog database; sinks.save_as_table can then target
    ``db.table``."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    spark.catalog.setCurrentDatabase(database)


def register_testdata(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every synthetic table as a temp view (the Spark analog of
    the reference's CREATE DATABASE/SCHEMA + per-table DDL)."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
