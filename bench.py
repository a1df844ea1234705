"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is executed to completion through the ``noop`` write format —
full computation, zero serialization back to the driver, so the number
measures the engine, not ``collect()``.  Per-query wall times are
reported individually; ``value`` is the total.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# The 350+ query single-JVM sequence needs the 16g heap (VERDICT r12
# #1); the library default is a conservative 4g, so the bench scopes
# the bump here.  An explicit env from the caller still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "16g")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from blueforty___etl_data_pipeline_spark.session import get_spark

#: Queries the bench leaves out, each with its reason.  Every other
#: ``queries()`` name is benched (HEADLINE below), so a new query is
#: benched unless it is listed here; tests/test_contract.py::
#: test_bench_manifest_is_complete pins that every name here is a
#: declared query.  Reasons are judgments about MEASUREMENT value, not
#: correctness (every name here still has a driver-checked oracle): a
#: headline total dominated by sub-second plan-family duplicates would
#: hide regressions in the scale-bearing queries.
BENCH_EXCLUDED = {
    # write-path / roundtrip micro-checks: wall time measures tiny-file
    # sink setup + scratch IO, not engine throughput; their scan paths
    # are benched by the parquet-reading queries.
    "compact_roundtrip": "io-roundtrip micro-check (scratch sink)",
    "csv_roundtrip": "io-roundtrip micro-check (scratch sink)",
    "ctas_roundtrip": "io-roundtrip micro-check (scratch sink)",
    "jsonl_roundtrip": "io-roundtrip micro-check (scratch sink)",
    "orc_roundtrip": "io-roundtrip micro-check (scratch sink)",
    "filename_partition": "reads a tiny CSV fixture, not sf data",
    "gdpr_delete": "write-path micro-check over a scratch CTAS lake",
    "merge_upsert": "write-path micro-check over a scratch CTAS lake",
    "scd2_history": "collapse windows over tiny per-user versions",
    # TPC-H siblings of benched plan families — HEADLINE carries one
    # query per physical-plan family (pricing_summary=Q1,
    # shipping_priority=Q3, local_supplier_volume=Q5, volume_shipping
    # =Q7, market_share=Q8, ... benched); re-adding every Q-shape
    # double-counts the same join/agg pattern.
    "below_avg_filter": "TPC-H Q17 sibling of benched join+pre-agg family",
    "count_distinct_agg": "TPC-H Q16 sibling (Expand distinct benched via profile_table)",
    "disjunctive_pred": "TPC-H Q19 sibling of benched scan+join family",
    "forecast_revenue": "TPC-H Q6 single-scan sibling of benched pricing_summary",
    "having_filter": "TPC-H Q18 sibling of benched agg+join family",
    "promo_revenue": "TPC-H Q14 sibling of benched join+agg family",
    "promo_suppliers": "TPC-H Q20 sibling of benched nested-IN family",
    "top_supplier": "TPC-H Q15 sibling of benched agg-vs-max family",
    # single-stage scans / one-shuffle shapes that finish sub-second at
    # sf0.1 — noise-dominated in a wall-clock total, and their plan
    # family is represented by a benched sibling.
    "distinct": "one-shuffle distinct; family benched via exact_dup_groups",
    "order_by_limit": "global TopK; family benched via top1_per_group",
    "null_safe_join": "<=> variant of the benched equi-join family",
    "outer_join_agg": "outer-join variant of benched reconciliation family",
    "semi_anti_join": "semi/anti variant of benched join family",
    "set_ops": "union/except/intersect over two sub-second scans",
    "pivot": "small-cardinality pivot; agg family benched via rollup twins",
    "unpivot": "stack() of a benched agg shape",
    "window_analytics": "lag/lead/rank bundle; window family benched via global_rank",
    "topk_per_group": "WindowGroupLimit family benched via top1_per_group",
    "rollup": "grouping-set sibling of benched order_totals agg family",
    "cube_agg": "grouping-set sibling (Expand benched via profile_table)",
    "grouping_sets": "grouping-set sibling of rollup/cube_agg",
    "json_flatten": "from_json projection; flatten family benched via xml_shred",
    "hash_sample": "shuffle-free hash filter (single scan)",
    "stratified_sample": "shuffle-free per-stratum hash filter",
    "fair_interleave": "single per-user window; family benched via weighted_topk_sample",
    "assign_packs": "single running-sum window; family benched via sessionize",
    "normalize_text": "narrow per-row text map; benched via text_quality/scrub_pii",
    "quality_filter": "narrow per-row text scoring; benched via text_quality",
    "language_id": "narrow per-row lexicon argmax; benched via text_quality",
    "token_counts": "narrow per-row tokenizer; benched via top_ngrams",
    # plan twins / sub-plans of benched queries — benching both would
    # measure the same stages twice.
    "minhash_signatures": "sub-plan of benched minhash_lsh_pairs",
    "minhash_lsh_pairs_expr": "expression-only variant of benched minhash_lsh_pairs (kept for parity)",
    "near_dup_components": "connected-components twin of benched near_dup_dedup",
    "ngram_jaccard_pairs": "pair-similarity family benched via simhash_pairs",
    "jaccard_prefix_join": "prefix-filter variant of benched fuzzy_join family",
    "tfidf_doc_similarity": "cosine twin of benched tfidf_top_terms + semantic_dedup",
    "resample_ffill": "spine+last-value window; family benched via asof_join",
    "resample_interp": "spine+interp window; family benched via asof_join",
    "frame_sample": "stub-codec plumbing; real-codec twins benched (image_patches_real)",
    "pagerank": "iterative frontier family benched via bfs_hops/label_propagation; 10x isolated spot on record",
}

#: Benched queries: every declared query not excluded above, in
#: ``queries()`` (source) order.
HEADLINE = [n for n in entrymod.queries() if n not in BENCH_EXCLUDED]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(app_name="blueforty-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # Warm the JVM/scheduler AND the parquet source (file listing +
    # footer reads) so q1 measures the query, not session startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # Per-query warm-then-measure: each plan executes once over
    # sf0.001 (compiling its whole-stage codegen — Janino caches by
    # generated source within the JVM, as a long-lived cluster would)
    # IMMEDIATELY before its timed run, so the measurement captures
    # data-proportional work, not one-time plan/codegen compilation.
    # Interleaved rather than warm-all-then-measure-all: warming the
    # full set first leaves ~100 queries of JIT/metaspace/GC pressure
    # in the JVM before the first measurement and inflated every query
    # ~10% uniformly (A/B-measured at sf0.1: 78.5s → 72.0s over the
    # same 75 queries after interleaving).  The warm-up data is 100×
    # smaller than the measured scale, so no result pages stay cached.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir

    # Sub-second queries are dominated by scheduler noise in a
    # single-shot measurement (r5 saw 1.6-1.8x wobble on frequent_pairs
    # / augment_dropout between same-session runs), so any query whose
    # first measured run lands under 1 s is re-run twice more and the
    # MEDIAN reported; >=1 s queries stay single-shot (data-bound, and
    # tripling them would triple total bench wall time for no signal).
    #
    # Outlier guard (round 11, VERDICT r10 item 8): a long in-session
    # sequence occasionally spikes ONE query far past its fresh-session
    # median (streaming_session read 4.2x its median in BENCH_r10 —
    # single-JVM drain scheduling, not code).  Any first run landing
    # above OUTLIER_X times its committed median (BENCH_MEDIANS_*.json)
    # is re-run twice and the median of 3 reported — a clean run pays
    # nothing, a noisy run re-measures only the noisy entries, and a
    # real regression still shows (all 3 runs stay slow).
    ref_medians: dict[str, float] = {}
    try:
        import glob as _glob

        cands = sorted(
            _glob.glob(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BENCH_MEDIANS_r*.json",
                )
            ),
            # numeric round order — lexical sort puts r9 after r10
            key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
        )
        if cands:
            with open(cands[-1]) as f:
                ref_medians = json.load(f).get("queries", {})
    except Exception:
        pass  # reference medians are an optimization, never a gate
    OUTLIER_X = 1.5
    times: dict[str, float] = {}
    run_counts: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs[name]
        # Heap hygiene between queries (VERDICT r12 #1): drop any
        # cached relations the previous query left behind so 350+
        # queries of broadcast/cache debris can't accumulate into a
        # notEnoughMemoryToBuildAndBroadcastTableError inside the
        # iterative operators' eager localCheckpoints.  Operators
        # unpersist what they cache, but clearCache() is the
        # belt-and-braces backstop — it is a metadata call (<1 ms when
        # the cache is already empty), so it cannot skew timings.
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        try:
            fn(spark, warm_dir).write.mode("overwrite").format(
                "noop"
            ).save()
        except Exception:
            pass  # a warm-up failure must not sink the measured run
        # A measured-run failure is recorded PER QUERY and the bench
        # keeps going: one marginal query must not turn the whole
        # round's artifact into rc 1 / parsed:null (the BENCH_r12
        # failure mode).  The error surfaces loudly in the payload —
        # nonempty `errors` is a red flag the artifact reader sees,
        # not a silent skip.
        try:
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            runs = [time.time() - t0]
            ref = ref_medians.get(name)
            if runs[0] < 1.0 or (
                ref is not None and runs[0] > OUTLIER_X * ref
            ):
                for _ in range(2):
                    t0 = time.time()
                    fn(spark, sf_dir).write.mode("overwrite").format(
                        "noop"
                    ).save()
                    runs.append(time.time() - t0)
        except Exception as exc:  # noqa: BLE001 — recorded, not hidden
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        times[name] = round(sorted(runs)[len(runs) // 2], 3)
        run_counts[name] = len(runs)

    total = round(sum(times.values()), 3)
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "runs": run_counts,
        "errors": errors,
        "n_errors": len(errors),
        # ADVICE r13: a failed query is dropped from `times`, so the
        # headline total covers fewer queries than prior rounds'
        # artifacts — flag the total itself as partial so diffs can't
        # misread a shrunken query set as a speedup.
        "total_partial": len(errors) > 0,
        "outlier_guard": {
            "ref": os.path.basename(cands[-1]) if ref_medians else None,
            "n_ref": len(ref_medians),
            "x": OUTLIER_X,
        },
        "sf": sf,
        "note": (
            "single in-session run; the committed round-9 baseline is "
            "the median-of-3-fresh-sessions artifact "
            "BENCH_MEDIANS_r9.json (protocol + variance in "
            "BENCH_DELTA_r9.md) - host drift up to 1.41x between "
            "identical-code runs makes single runs non-comparable"
        ),
    }
    # The full per-query payload (~12 KB for 275 queries) is persisted
    # as a repo artifact for round-over-round comparison …
    try:
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
        )
        with open(full_path, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # artifact persistence must never sink the bench run
    spark.stop()

    # … while STDOUT carries a compact line sized to the driver's
    # 2000-char tail capture (every BENCH_r{N}.json since r4 has
    # "parsed": null because the 12 KB line's head fell off the tail
    # window).  Keep the contract fields and as many per-query timings
    # as fit — slowest first, since those carry the perf signal — and
    # point at BENCH_FULL.json for the rest.  Printed after
    # spark.stop() so no late JVM chatter can land behind it.
    budget = 1900
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {},
        "n_queries": len(times),
        "n_errors": len(errors),
        "total_partial": len(errors) > 0,
        "queries_elided": 0,
        "full": "BENCH_FULL.json",
        "sf": sf,
    }
    if errors:  # names only — messages live in BENCH_FULL.json
        compact["error_queries"] = sorted(errors)[:10]
    # Which queries make the compact line is ordered by the COMMITTED
    # median (falling back to this run's time only for queries the
    # reference doesn't know), not by this run's noisy times: ordering
    # by a single run's times made the emitted top-set churn 10-15
    # names between runs, which the driver's round-over-round
    # intersection misread as dropped queries (VERDICT r14 #5).  The
    # VALUES are still this run's real measurements — 2 decimals here
    # (±5 ms, far under run-to-run noise; 3-decimal values stay in
    # BENCH_FULL.json) and compact separators so more queries fit the
    # driver's 2000-char tail window.
    def _rank(kv):
        ref = ref_medians.get(kv[0])
        return -(ref if ref is not None else kv[1])

    for name, secs in sorted(times.items(), key=_rank):
        trial = dict(compact)
        trial["queries"] = {**compact["queries"], name: round(secs, 2)}
        trial["queries_elided"] = len(times) - len(trial["queries"])
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        compact = trial
    print(json.dumps(compact, separators=(",", ":")))


if __name__ == "__main__":
    main()
