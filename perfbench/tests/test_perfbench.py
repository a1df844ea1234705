"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

Every workload BENCHMARK.json declares has a query list whose builders
have oracles, the per-layer aggregation is pinned, and one query per
workload is smoked at sf0.001 through the same code path the benchmark
runs, oracle check included.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_declared_workloads_have_queries_with_oracles():
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    assert [w["name"] for w in run.spec()["workloads"]] == list(WORKLOADS)
    for name, names in WORKLOADS.items():
        assert names, name
        for q in names:
            assert q in queries and q in oracles, (name, q)


def test_layer_metrics_sum_medians_and_recompute_ratios():
    ledgers = {
        "a": [
            {"engine.task_s": 4.0, "engine.run_s": 1.0, "parallelism.spread_scan.calls": 2},
            {"engine.task_s": 8.0, "engine.run_s": 1.0, "parallelism.spread_scan.calls": 2},
            {"engine.task_s": 6.0, "engine.run_s": 1.0, "parallelism.spread_scan.calls": 2,
             "parallelism.spread_scan.hits": 1},
        ],
        "b": [{"engine.task_s": 2.0, "engine.run_s": 1.0}],
    }
    totals, per_query = run.layer_metrics(ledgers)
    assert per_query["a"]["engine.task_s"] == 6.0
    assert totals["engine.task_s"] == 8.0
    assert totals["engine.busy_ratio"] == 8.0 / (2.0 * run.CORES)
    assert totals["parallelism.spread_scan.hit_ratio"] == 0.0


@pytest.fixture(scope="module")
def smoke_env(tmp_path_factory):
    work = tmp_path_factory.mktemp("work")
    run.configure_env(str(work / "scratch"), str(work / "tmp"))
    import __spark_entry__ as entry

    entry.SCRATCH = str(work / "scratch")
    from blueforty___etl_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-tests",
        master=f"local[{run.CORES}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark, entry
    spark.stop()


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_one_query_per_workload(smoke_env, workload):
    spark, entry = smoke_env
    name = WORKLOADS[workload][-1]
    runner = run.Runner(spark, entry, [name])
    runner.collect(run.CHECK_DIR)
    runner.check(run.CHECK_DIR)
    walls, _, _ = runner.passes(run.CHECK_DIR, 0.0, 1, trace=False, min_passes=1)
    assert (runner.attempted, runner.failed) == (2, 0)
    assert len(walls[name]) == 1 and walls[name][0] > 0
