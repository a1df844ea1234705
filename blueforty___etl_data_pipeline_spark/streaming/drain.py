"""Drain a stream once: start it under an availableNow trigger, with
shuffle (state-store) partitions sized from its staged source, and
block until it has finished.

``drain_to_memory`` is the whole tail of a query that drains into a
memory sink and reads the sink back.  Queries with another sink take
``_scoped_stream_partitions`` and ``_await_streaming`` directly.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import DataFrame, SparkSession


def _await_streaming(q, timeout: int = 300) -> None:
    """Block until an availableNow run finishes; a False return means
    the memory sink would be read mid-run (a partial, inscrutable
    oracle mismatch), so surface it as a hard timeout instead.

    After a clean drain the query is stopped and the manager's
    terminated-query list is cleared: StreamingQueryManager retains a
    reference to EVERY terminated query for ``spark.streams.get()``,
    so a 275-query bench session that exercises the streaming family
    repeatedly accumulates dead query objects (and their progress
    histories) in the driver for the life of the JVM — one of the
    in-session fixed-cost growth vectors flagged in VERDICT r8 item 4."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} still running after {timeout}s"
        )
    q.stop()
    active = None
    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.streams.resetTerminated()
            # Second in-session growth vector (VERDICT r9 item 6):
            # terminated queries leave their HDFSBackedStateStoreProvider
            # instances (and their in-heap loadedMaps) registered until
            # the 60s maintenance tick notices the run id changed — a
            # bench session draining ~30 stateful queries accumulates
            # thousands of dead providers' heap before any unload.
            # StateStore.stop() unloads them all and stops the
            # maintenance task; the next streaming query restarts both
            # lazily (probed: post-stop drains run green and fast).
            # Only safe when no OTHER stream is mid-batch.
            if not active.streams.active:
                active._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception as exc:
        # Cleanup must never fail a green drain — but the StateStore
        # unload goes through a private JVM class path that a Spark
        # upgrade could rename, silently reverting the heap-growth fix
        # (ADVICE r10).  Log once per process so a broken path is
        # noticed rather than swallowed.
        global _STATESTORE_STOP_WARNED
        if not _STATESTORE_STOP_WARNED:
            _STATESTORE_STOP_WARNED = True
            print(
                "WARN _await_streaming: post-drain StateStore cleanup "
                f"failed ({type(exc).__name__}: {exc}); dead state-store "
                "providers will accumulate until the maintenance tick",
                file=sys.stderr,
            )


_STATESTORE_STOP_WARNED = False


def _stream_partitions_for(src: str, current: int, cores: int) -> int:
    """Scale-adaptive shuffle/state partition count for a streaming
    drain over the staged source at ``src``.

    Structured Streaming pins its state-store partition count to
    ``spark.sql.shuffle.partitions`` at first-batch planning and AQE
    never re-coalesces stateful exchanges, so every stateful operator
    pays per-batch load/commit cost on ALL ``N`` state partitions even
    when the drained data would fit in one (guide §2.1/§2.2; VERDICT
    r14 #2: the 32-partition default made the streaming family the
    bench's largest fixed-overhead block).  Derive the count from the
    staged input size — one partition per ~32 MB of data files, floored
    at ``min(8, cores)``, capped at the session's configured
    ``spark.sql.shuffle.partitions`` so a cluster submitter's sizing
    still wins at scale.  The floor keeps one wave of state tasks:
    each state partition is one task per batch that loads and commits
    its own store, so partitions beyond the cores run as extra waves of
    that fixed cost (streaming_user_stats at sf0.1 on 4 cores:
    1.16-1.31 s at 4 partitions, 1.41-1.71 s at 8).  Above 8 cores the floor
    stays 8; the 32-core run that set that cap predates the bucketed
    user-stats state and has not been repeated.  Partitioning only
    changes WHERE a key's state lives, never per-key results, so
    emissions are identical.
    """
    if not os.path.isdir(src):
        return current
    # Data files as Spark's file index lists them: names starting with
    # "_" or "." (_SUCCESS, _spark_metadata, .crc) are not data.
    size = 0
    try:
        for root, dirs, files in os.walk(src):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            size += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith(("_", "."))
            )
    except OSError:
        return current
    return min(current, max(min(8, cores), size // (32 << 20) + 1))


class _scoped_stream_partitions:
    """Set shuffle partitions for the duration of a streaming drain and
    restore the session value afterwards (the conf is read at stream
    start; queries run strictly sequentially in the bench/driver)."""

    def __init__(self, spark: SparkSession, src: str) -> None:
        self._spark = spark
        self._src = src

    def __enter__(self) -> None:
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        tgt = _stream_partitions_for(
            self._src,
            int(self._old),
            self._spark.sparkContext.defaultParallelism,
        )
        self._spark.conf.set("spark.sql.shuffle.partitions", str(tgt))

    def __exit__(self, *exc) -> None:
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)


def drain_to_memory(
    spark: SparkSession, df: DataFrame, sink: str, output_mode: str, src: str
) -> DataFrame:
    """Drain the streaming ``df`` availableNow into the memory table
    ``sink`` under the partition scope sized from the staged source at
    ``src``, block until the drain completes, and return the table."""
    writer = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    with _scoped_stream_partitions(spark, src):
        q = writer.start()
        _await_streaming(q)
    return spark.table(sink)
