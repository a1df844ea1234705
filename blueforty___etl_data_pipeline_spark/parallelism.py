"""Scan-parallelism repair for compute-heavy passes over small inputs.

A parquet scan parallelizes at ROW-GROUP granularity: a table written
as one file with one row group is read by exactly one task no matter
how many cores the session has, and every expensive per-row expression
fused into that scan stage (hash folds, per-row vector math, shingle
explodes, decimal aggregation) runs serially while the rest of the
cluster idles.  This is the guide's §2.5 "input skew: one huge
unsplittable file" case — the prescribed fix is to repartition
immediately after the read.

``spread_scan(df, *keys)`` applies that fix ADAPTIVELY: it estimates
the scan's task count from the input files backing the frame (pure
driver-side metadata — no job, no plan materialization) and inserts a
hash repartition on the named ``keys`` to the session's default
parallelism ONLY when the scan is starved relative to it.  At real
scale the estimate exceeds the core count and the frame is returned
untouched — the exchange exists only where it buys compute spread, so
the helper is a no-op on the 100 TB path by construction (nothing here
is tuned to local mode).

The contract at a call site:

- **Hash on a named key.**  Hash partitioning is a pure function of the
  row, so a retried task rebuilds exactly the partition it lost with no
  pre-exchange sort (a keyless round-robin spread is only retry-safe
  under ``spark.sql.execution.sortBeforeRepartition``, which sorts every
  row first).  The keys must be named columns, never "all columns":
  hashing every column keeps the optimizer from pruning columns below
  the exchange, so the scan would read the whole table.
- **Pick the downstream key when there is one.**  When the next
  aggregate or join groups on the spread key, the spread exchange IS
  that operator's shuffle: ``groupBy(k)`` after ``spread_scan(df, k)``
  plans its partial and final aggregate with no second Exchange.  The
  price is the aggregate's map-side partial step: the spread ships raw
  rows, so when the aggregate itself is cheap and reduces well, spread
  only the branch that does the per-row work (composite_key_join).
  Otherwise use the frame's own row key (``doc_id``, ``vec_id``, ...),
  whose values are distinct and so spread evenly.

Use it ONLY under operators whose results are partition-order
invariant (exact aggregates over integers/decimals, min/max/count,
windows with total deterministic ordering) — which is the engine's
standard contract anyway (every query hash-matches a sequential
oracle).
"""

from __future__ import annotations

import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

__all__ = ["spread_scan"]

_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}


def _local_size(uri: str) -> int | None:
    """Size of a local file given as a path or ``file:`` URI; ``None``
    when it cannot be read (remote schemes such as ``s3://``, missing
    files)."""
    parsed = urlparse(uri)
    if parsed.scheme == "file":
        path = unquote(parsed.path)
    elif parsed.scheme == "":
        path = uri
    else:
        return None
    try:
        return os.path.getsize(path)
    except OSError:
        return None


def _parse_bytes(raw: str) -> int | None:
    """A Spark byte-size conf value (``134217728b``, ``64m``, ``1g``,
    ``512kb``, bare digits = bytes) in bytes; ``None`` if unparseable."""
    m = re.fullmatch(r"\s*(\d+)\s*([bkmg]?)b?\s*", raw.lower())
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)] if m else None


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` to the session's default
    parallelism when its underlying scan cannot supply that many
    tasks; identity otherwise.

    The scan's achievable parallelism is estimated as
    ``max(n_files, total_bytes // maxPartitionBytes)`` — one task per
    file floor (row-group granularity; the engine's fixtures and
    sidecar tables are single-row-group), plus the split count for
    large files.  The estimate errs high for many-small-file tables
    (packing), which makes the helper conservatively skip — correct,
    since such scans are already parallel.  When any input file's size
    cannot be read (remote object stores) or the conf cannot be parsed,
    the frame is returned unchanged.
    """
    if not keys:
        raise ValueError("spread_scan needs at least one key column")
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if par <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    sizes = [_local_size(f) for f in files]
    if None in sizes:
        return df
    max_pb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    if not max_pb:
        return df
    est_tasks = max(len(files), sum(sizes) // max_pb)
    if est_tasks >= par:
        return df
    return df.repartition(par, *keys)
