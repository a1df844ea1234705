"""cut_lineage: reliable checkpoint dispatch (PLANS.md round-14 task).

Every iterative graph operator cuts lineage through
``lineage.cut_lineage``.  In single-JVM local mode that is
``localCheckpoint`` (blocks on executors); when the SparkContext has a
checkpoint directory configured — the multi-executor deployment path —
the cut MUST become a reliable ``checkpoint`` (files in the checkpoint
dir survive executor loss mid-iteration).

The reliable path needs its own SparkContext because
``setCheckpointDir`` is sticky global state on the shared test session,
so it runs in a fresh subprocess and the results are compared against
the shared session's localCheckpoint run.
"""

from __future__ import annotations

import pytest
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (7, 8)]
#: (child, parent): a forest of height 5 rooted at 0 plus a stub at 10
TREE = [(1, 0), (2, 1), (3, 2), (4, 3), (5, 4), (6, 1), (7, 0), (11, 10)]
#: two direction-clusters for kmeans_lloyd, seeded from ids 0 and 10
VECS = [
    (0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.8, 0.2, 0.1]),
    (10, [0.0, 1.0, 0.0]), (11, [0.1, 0.9, 0.0]), (12, [0.0, 0.8, 0.2]),
]
#: (source, text) for oov_rate and bpe_train
DOCS = [
    ("s1", "lower lowest newer newest low low"),
    ("s2", "wider widest newer low lower zzz"),
    ("s3", "newest lowest low qqq"),
]


def extra_runs(spark):
    """Cut sites beyond the graph walks, as name -> thunk returning
    sorted result rows: the same calls run in the shared session and
    in the reliable-path subprocess."""
    from blueforty___etl_data_pipeline_spark.operators import (
        bpe,
        corpus,
        graph,
        similarity,
    )

    edges = spark.createDataFrame(EDGES, "src long, dst long")
    vecs = spark.createDataFrame(VECS, "vec_id long, embedding array<double>")
    docs = spark.createDataFrame(DOCS, "source string, text string")
    seeds = vecs.filter("vec_id IN (0, 10)")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    return {
        # eager cut every round
        "label_propagation": lambda: rows(
            graph.label_propagation(edges, rounds=3)
        ),
        # lazy cut per iteration, read by the broadcast and the checksum
        "kmeans_lloyd": lambda: rows(
            similarity.kmeans_lloyd(vecs, seeds, iters=2)
        ),
        # lazy cut read by two branches (vocabulary and scoring)
        "oov_rate": lambda: rows(corpus.oov_rate(docs, min_count=2)),
        # lazy cut per merge round, read by the next round's top-1 job
        "bpe_train": lambda: rows(
            bpe.bpe_train(docs, num_merges=4, min_count=1)
        ),
    }


def test_cut_lineage_dispatches_local_without_checkpoint_dir(spark):
    """No checkpoint dir (the shared test session): cut_lineage must
    call localCheckpoint, never reliable checkpoint."""
    from pyspark.sql.classic.dataframe import DataFrame

    from blueforty___etl_data_pipeline_spark.lineage import cut_lineage

    assert spark.sparkContext.getCheckpointDir() is None

    calls: list[str] = []
    orig_local = DataFrame.localCheckpoint
    orig_reliable = DataFrame.checkpoint

    def spy_local(self, eager=True, storageLevel=None):
        calls.append("local")
        return orig_local(self, eager=eager)

    def spy_reliable(self, eager=True):
        calls.append("reliable")
        return orig_reliable(self, eager=eager)

    DataFrame.localCheckpoint = spy_local
    DataFrame.checkpoint = spy_reliable
    try:
        out = cut_lineage(spark.range(5))
        assert out.count() == 5
    finally:
        DataFrame.localCheckpoint = orig_local
        DataFrame.checkpoint = orig_reliable
    assert calls == ["local"]


def test_cut_observed_returns_exact_metrics_under_local_checkpoint(spark):
    """The observation rides the eager localCheckpoint job: the metrics
    are exact, the returned frame is cut, and a frame with no rows
    still reports (count 0, max null) instead of blocking."""
    from pyspark.sql import functions as F

    from blueforty___etl_data_pipeline_spark.lineage import cut_observed

    assert spark.sparkContext.getCheckpointDir() is None
    df = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("g"), (F.col("id") % 3 == 0).alias("f")
    )
    cut, seen = cut_observed(
        df.filter(F.col("id") >= 10),
        open=F.count(F.when(~F.col("f"), 1)),
        deepest=F.max("id"),
        g_sum=F.sum("g"),
    )
    want_open = sum(1 for i in range(10, 1000) if i % 3)
    want_g = sum(i % 7 for i in range(10, 1000))
    assert seen == {"open": want_open, "deepest": 999, "g_sum": want_g}
    assert "LogicalRDD" in cut._jdf.queryExecution().analyzed().toString()
    assert cut.count() == 990

    _, empty = cut_observed(
        df.filter(F.col("id") < 0),
        open=F.count(F.when(~F.col("f"), 1)),
        deepest=F.max("id"),
    )
    assert empty == {"open": 0, "deepest": None}


_RELIABLE_SCRIPT = """
import json
import os
import sys

sys.path.insert(0, {repo!r})

from blueforty___etl_data_pipeline_spark.session import get_spark

spark = get_spark(
    app_name="lineage-reliable", master="local[2]", shuffle_partitions=4
)
spark.sparkContext.setLogLevel("ERROR")
ckpt_dir = sys.argv[1]
spark.sparkContext.setCheckpointDir(ckpt_dir)

from blueforty___etl_data_pipeline_spark.operators import graph as g

sys.path.insert(0, os.path.join({repo!r}, "tests"))
from test_lineage import extra_runs

edges = spark.createDataFrame({edges!r}, "src long, dst long")
pairs = edges.toDF("id_a", "id_b")

comps = sorted(
    (r.node, r.component_id)
    for r in g.connected_components(pairs, max_iter=6).collect()
)
ranks = sorted(
    (r.node, r.rank_e9)
    for r in g.pagerank_fixed_point(edges, iterations=3).collect()
)
# Its cuts are observed: every round's Observation must fire under the
# reliable checkpoint too, or reading it would block forever.
tree = sorted(
    (r.node, r.root, r.depth)
    for r in g.flatten_hierarchy(
        spark.createDataFrame({tree!r}, "child long, parent long")
    ).collect()
)
# Proof the RELIABLE path ran: reliable checkpoint writes rdd-*
# directories under the checkpoint dir (localCheckpoint writes nothing).
ckpt_files = []
for root, _dirs, files in os.walk(ckpt_dir):
    ckpt_files.extend(os.path.join(root, f) for f in files)


def n_files():
    return sum(len(files) for _root, _dirs, files in os.walk(ckpt_dir))


# Each extra run must itself write checkpoint files.
extra = {{}}
for name, run in extra_runs(spark).items():
    before = n_files()
    extra[name] = {{"rows": run(), "new_files": n_files() - before}}
print(json.dumps({{
    "comps": comps,
    "ranks": ranks,
    "tree": tree,
    "n_ckpt_files": len(ckpt_files),
    "extra": extra,
}}))
spark.stop()
"""


@pytest.mark.slow
def test_cut_lineage_reliable_path_identical_results(spark, tmp_path):
    """Fresh subprocess session WITH a checkpoint dir: the iterative
    operators must take the reliable checkpoint path (files appear in
    the dir) and produce results identical to the localCheckpoint run
    in the shared session."""
    from blueforty___etl_data_pipeline_spark.operators import graph as g

    edges = spark.createDataFrame(EDGES, "src long, dst long")
    pairs = edges.toDF("id_a", "id_b")
    expect_comps = sorted(
        (r.node, r.component_id)
        for r in g.connected_components(pairs, max_iter=6).collect()
    )
    expect_ranks = sorted(
        (r.node, r.rank_e9)
        for r in g.pagerank_fixed_point(edges, iterations=3).collect()
    )
    expect_tree = sorted(
        (r.node, r.root, r.depth)
        for r in g.flatten_hierarchy(
            spark.createDataFrame(TREE, "child long, parent long")
        ).collect()
    )

    expect_extra = {name: run() for name, run in extra_runs(spark).items()}

    ckpt_dir = str(tmp_path / "ckpt")
    script = _RELIABLE_SCRIPT.format(repo=REPO, edges=EDGES, tree=TREE)
    proc = subprocess.run(
        [sys.executable, "-c", script, ckpt_dir],
        capture_output=True,
        text=True,
        timeout=600,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEMORY": "2g"},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])

    assert [tuple(t) for t in got["comps"]] == expect_comps
    assert [tuple(t) for t in got["ranks"]] == expect_ranks
    assert [tuple(t) for t in got["tree"]] == expect_tree
    # The reliable checkpoint actually materialized to the dir.
    assert got["n_ckpt_files"] > 0
    for name, want in expect_extra.items():
        assert want, name  # each run produced rows to compare
        assert [tuple(t) for t in got["extra"][name]["rows"]] == want, name
        assert got["extra"][name]["new_files"] > 0, name
