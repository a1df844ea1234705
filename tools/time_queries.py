"""Time named queries through bench.py's noop sink, in one session.

Usage: python tools/time_queries.py [--runs N] [--tree DIR] q1 q2 ...

Run each plan once untimed at $SPARK_GRAFT_SF_DIR (default sf0.1),
then time it at the same scale through the noop sink; report the
median of N runs (default 3).  The untimed run pays the first-run
costs at the timed scale (code generation, the table's schema
inference), so even ``--runs 1`` times a warm run; bench.py warms at
sf0.001 instead.  Each run gets its own job group, so the jobs it
started (builder jobs such as eager lineage cuts, plus the final
write) are counted from the status tracker; job counts do not drift
between sessions the way wall times do.  Streaming drains run their
batches on the stream thread, outside the group, so their batch jobs
are not counted.

``--tree DIR`` imports the queries and the package from another
checkout (default: this one), so an A/B times both sides with the
same harness.  The last stdout line is one JSON object:
``{query: {"s": median seconds, "jobs": median job count}}``.

For optimization iteration only — the committed before/after numbers
come from bench.py / tools/bench_rebaseline.py.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "16g")


def _jobs_in_group(sc, group: str) -> int:
    # Job events reach the status store through the async listener
    # bus; drain it so the last job of the run is counted.
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--tree",
        default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.tree))

    import __spark_entry__ as entrymod
    from blueforty___etl_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="blueforty-time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = entrymod.queries()
    spark.range(1000000).selectExpr("sum(id)").collect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        spark.read.parquet(p).count()
    out: dict[str, dict] = {}
    for name in args.names:
        fn = qs[name]
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        samples, jobs = [], []
        for i in range(args.runs):
            group = f"time_queries:{name}:{i}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples.append(time.time() - t0)
            sc.setJobGroup("time_queries:idle", "")
            jobs.append(_jobs_in_group(sc, group))
        out[name] = {
            "s": round(statistics.median(samples), 3),
            "jobs": statistics.median(jobs),
        }
        print(
            f"{name}: median={out[name]['s']} "
            f"runs={[round(s, 3) for s in samples]} jobs={jobs}",
            file=sys.stderr,
        )
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
