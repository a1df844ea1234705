"""Lineage truncation for iterative operators.

Every iterative operator in this engine (connected components,
PageRank, label propagation, BFS, HITS, transitive closure, k-means,
BPE merges, ...) must cut its logical plan each round: without a cut
the plan grows by two joins per iteration, Catalyst re-analyzes the
whole nested tree every round (round-12 post-mortem: six phases of
joins + broadcast cross-joins OOMed analysis on a 1 GiB driver), and a
failure re-executes from the original source.

``cut_lineage`` is the one place that decides HOW the cut happens;
no other module calls ``checkpoint`` or ``localCheckpoint``
(``tests/test_lineage_policy.py`` pins that):

- **Reliable ``checkpoint`` when a checkpoint dir is configured.**
  ``DataFrame.checkpoint`` writes the materialized partitions to the
  fault-tolerant checkpoint location (HDFS / object storage on a real
  cluster).  This is the multi-executor deployment path: a lost
  executor re-reads the checkpoint files and the job continues.
- **``localCheckpoint`` otherwise.**  Blocks are stored on executors
  only (memory-and-disk) — cheap and exactly right for single-JVM
  local mode (tests, bench), but an executor loss kills the job, so a
  cluster deployment should always ``spark.sparkContext
  .setCheckpointDir(...)`` and get the reliable path with no code
  change.

Both forms truncate the plan identically; results are byte-identical
(asserted by ``tests/test_lineage.py`` in a fresh subprocess session
with a checkpoint dir set).

``eager=True`` (the default) runs one job at call time and returns a
frame that reads the materialized rows.  ``eager=False`` is the lazy
contract: nothing runs at call time, the first action over the
returned frame materializes it as part of that action's job, and
every later action reads the materialized rows.  Use it for a frame
with several consumers inside one plan, or whose only reader is the
next action anyway.  On the reliable path the lazy form writes its
files after that first action, in a job of its own that recomputes
the frame.  Local blocks are
released when the cut frame is garbage collected; reliable-path files
are not removed unless
``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.

``cut_observed`` is the one place where a loop's convergence probe
rides on a cut: it attaches ``DataFrame.observe`` aggregates to the
frame being cut, so the eager cut job itself returns the round's
scalars (rows still changing, the deepest path so far) and no second
``take``/``count`` job runs per round.  This is the pattern of
``sinks.write_table_observed``, applied to the checkpoint job.

Reference provenance: the reference (BlueForty.py) has no iterative
operator — it delegates query execution to a warehouse.  This module
exists for the engine's north-star extensions (graph dedup, PageRank,
BPE training) where iteration is inherent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation

__all__ = ["cut_lineage", "cut_observed"]


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s logical plan, materializing it as a new source.

    Uses reliable ``checkpoint`` when ``sparkContext`` has a checkpoint
    directory configured (the multi-executor deployment path), else
    ``localCheckpoint`` (single-JVM local mode).  ``eager=False``
    defers materialization to the first action over the result (see
    the module docstring).
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def cut_observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Eagerly cut ``df``'s lineage and return the cut frame together
    with ``metrics`` (name → aggregate Column) computed over its rows by
    the same job: ``cut_observed(step, n=F.count(F.lit(1)))`` →
    ``(cut, {"n": ...})``.  The cut is always eager — an observation
    on a lazy frame would never fire, and reading it would block.
    """
    obs = Observation()
    cut = cut_lineage(
        df.observe(obs, *(c.alias(name) for name, c in metrics.items()))
    )
    return cut, obs.get
