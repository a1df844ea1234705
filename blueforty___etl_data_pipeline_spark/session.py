"""SparkSession factory with scale-oriented defaults.

The reference opens one Snowflake connection and one Postgres connection
(BlueForty.py:10-13, :317); our equivalent session boundary is a single
SparkSession.  Config choices target the 100 TB design point while staying
correct on local[N]:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast selection replace any hand-tuned parallelism knob the
  reference had (its only knob was ``PUT ... PARALLEL=8``, BlueForty.py:74).
- ANSI off: the reference's loaders use TRY_TO_NUMBER / TRY_TO_DATE
  null-on-failure semantics everywhere (BlueForty.py:90-105); non-ANSI casts
  plus explicit try_* functions reproduce that contract.
- Arrow on: all Pandas-UDF paths (similarity, multimodal) batch via Arrow.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: The directory that holds this package (and ``__spark_entry__.py``).
#: Python workers start in the JVM's working directory, so without it
#: on their path they cannot unpickle functions from this package when
#: the driver runs from anywhere else.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "blueforty-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and bench share one entry point; on a real
    cluster the caller simply passes no master and submits normally.
    Python workers get the package's parent directory at the front of
    their ``PYTHONPATH`` (the caller's ``PYTHONPATH`` follows), so the
    session works from any working directory; ``extra_conf`` wins.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # Driver heap: pyspark forwards builder confs to the JVM launch
    # command (--conf) when THIS process starts the gateway, so the
    # setting is effective for every session this factory creates.
    # Spark's 1 GiB default heap is marginal for long single-JVM
    # sequences — BENCH_r12 died with
    # notEnoughMemoryToBuildAndBroadcastTableError building a broadcast
    # inside an eager localCheckpoint after 350 queries of accumulated
    # broadcast relations / cached plans / metaspace (VERDICT r12 #1).
    # The LIBRARY default is a conservative 4g (ADVICE r13: a blanket
    # 16g default can fail JVM launch on memory-limited CI hosts); the
    # long single-JVM sequences that motivated the bump — bench.py and
    # the tools/ sweep entry points — setdefault
    # SPARK_GRAFT_DRIVER_MEMORY=16g themselves.  Cluster submitters
    # override via the same env; if the JVM is already up, the conf is
    # inert.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "4g")
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        # Correctness contract: null-on-failure casts (TRY_TO_* analogs).
        .config("spark.sql.ansi.enabled", "false")
        # Scale: AQE re-plans shuffles at runtime (coalesce, skew split,
        # broadcast demotion/promotion) — essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE may re-plan the output partitioning of cached plans too —
        # iterative operators (pagerank, connected components) persist
        # per round and would otherwise pin raw shuffle partitioning.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Arrow for every Python<->JVM data exchange (Pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events.parquet stores TIMESTAMP(NANOS); without this
        # Spark 4 hard-fails the scan (PARQUET_TYPE_ILLEGAL).  The nanos
        # bigint is converted to a real timestamp in sources/catalog.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
