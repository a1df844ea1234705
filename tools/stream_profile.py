"""Profile the streaming family's availableNow drains (round-15,
VERDICT r14 #2): per-query, capture every micro-batch's
StreamingQueryProgress — batch count, durationMs breakdown
(triggerExecution / getBatch / addBatch / commitOffsets /
walCommit), state-operator metrics (numRowsTotal, commit times,
numShufflePartitions) and sink rows — so the per-batch fixed cost vs
data cost split is measured, not guessed.

Usage: python tools/stream_profile.py [query ...]
Output: .tmp/stream_profile.json + a per-query summary on stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "16g")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from blueforty___etl_data_pipeline_spark.session import get_spark
from blueforty___etl_data_pipeline_spark.streaming import drain

DEFAULT = [
    "streaming_outer_join",
    "streaming_join",
    "streaming_ewma",
    "streaming_user_stats",
    "streaming_session",
    "streaming_sliding",
    "streaming_tumbling",
    "streaming_dedup",
    "streaming_ingest",
    "streaming_topk",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="blueforty-stream-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    spark.range(1000000).selectExpr("sum(id)").collect()

    # Monkeypatch _await_streaming to capture progress before stop.
    captured: dict[str, list[dict]] = {}
    current: list[str] = ["?"]

    def spy_await(q, timeout: int = 300):
        ok = q.awaitTermination(timeout)
        prog = [
            p if isinstance(p, dict) else json.loads(p.json)
            for p in (q.recentProgress or [])
        ]
        captured.setdefault(current[0], []).extend(prog)
        if not ok:
            q.stop()
            raise TimeoutError(f"{q.name} still running after {timeout}s")
        _finish(q)

    def _finish(q):
        # replicate orig cleanup path: stop + resetTerminated + state stop
        q.stop()
        try:
            from pyspark.sql import SparkSession as _S

            active = _S.getActiveSession()
            if active is not None:
                active.streams.resetTerminated()
                if not active.streams.active:
                    active._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:
            pass

    # drain_to_memory looks the name up in its module; streaming_upsert
    # calls the name the entry module imported.
    drain._await_streaming = entrymod._await_streaming = spy_await

    out: dict[str, dict] = {}
    for name in names:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        current[0] = name
        captured[name] = []
        t0 = time.time()
        qs[name](spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
        wall = time.time() - t0
        batches = captured[name]
        summary = {
            "wall_sec": round(wall, 3),
            "n_batches": len(batches),
            "batch_input_rows": [b.get("numInputRows") for b in batches],
            "trigger_ms": [
                b.get("durationMs", {}).get("triggerExecution")
                for b in batches
            ],
            "addBatch_ms": [
                b.get("durationMs", {}).get("addBatch") for b in batches
            ],
            "getBatch_ms": [
                b.get("durationMs", {}).get("getBatch") for b in batches
            ],
            "walCommit_ms": [
                b.get("durationMs", {}).get("walCommit") for b in batches
            ],
            "commitOffsets_ms": [
                b.get("durationMs", {}).get("commitOffsets")
                for b in batches
            ],
            "state": [
                [
                    {
                        "rowsTotal": s.get("numRowsTotal"),
                        "updated": s.get("numRowsUpdated"),
                        "commit_ms": s.get("commitTimeMs"),
                        "partitions": (s.get("customMetrics") or {}).get(
                            "numStateStoreInstances"
                        ),
                        "mem": s.get("memoryUsedBytes"),
                    }
                    for s in (b.get("stateOperators") or [])
                ]
                for b in batches
            ],
        }
        out[name] = summary
        print(
            f"{name}: wall={wall:.2f}s batches={len(batches)} "
            f"trigger_ms={summary['trigger_ms']}",
            flush=True,
        )
    os.makedirs(os.path.join(os.path.dirname(__file__), "..", ".tmp"), exist_ok=True)
    with open(
        os.path.join(os.path.dirname(__file__), "..", ".tmp", "stream_profile.json"),
        "w",
    ) as f:
        json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
