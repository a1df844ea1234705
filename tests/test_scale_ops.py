"""Scale-toolbox operators: salted joins, write-time bucketing,
embedding near-dup blocking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blueforty___etl_data_pipeline_spark.operators.similarity import (
    embedding_near_dup_pairs,
)
from blueforty___etl_data_pipeline_spark.operators.skew import (
    key_histogram,
    salted_join,
)
from blueforty___etl_data_pipeline_spark.sinks import write_bucketed
from blueforty___etl_data_pipeline_spark.sources.catalog import load_table


def test_salted_join_equals_plain_join(spark):
    # Power-law fact: one hot key with most rows.
    fact = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 12)],
        "k long, payload long",
    )
    dim = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(1, 12)], "k long, attr string"
    )
    plain = fact.join(dim, on="k").select("k", "payload", "attr")
    salted = salted_join(fact, dim, on="k", salt=8).select(
        "k", "payload", "attr"
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_spreads_hot_key(spark):
    fact = spark.createDataFrame([(1, i) for i in range(100)], "k long, p long")
    dim = spark.createDataFrame([(1, "d")], "k long, a string")
    from blueforty___etl_data_pipeline_spark.operators.skew import SALT_COL

    salts = (
        fact.withColumn(SALT_COL, (F.rand(seed=42) * 8).cast("int"))
        .select(SALT_COL)
        .distinct()
        .count()
    )
    assert salts > 4  # the hot key really does fan out over salt buckets
    assert salted_join(fact, dim, on="k", salt=8).count() == 100


def test_key_histogram_orders_by_weight(spark):
    df = spark.createDataFrame(
        [(1,)] * 50 + [(2,)] * 10 + [(3,)], "k long"
    )
    rows = key_histogram(df, "k", top=2).collect()
    assert [(r["k"], r["n_rows"]) for r in rows] == [(1, 50), (2, 10)]


def test_bucketed_join_has_no_shuffle(spark, sf_small):
    # (managed tables land in the default spark-warehouse dir —
    # warehouse.dir is a static conf and cannot be pointed at tmp_path)
    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    o = load_table(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", ["l_orderkey"], num_buckets=8)
    write_bucketed(o, "b_orders", ["l_orderkey"], num_buckets=8)
    joined = spark.table("b_lineitem").join(
        spark.table("b_orders"), on="l_orderkey"
    )
    # Both sides bucketed identically → SortMergeJoin with NO Exchange.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == load_table(spark, sf_small, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_embedding_near_dup_precision(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3)
    rows = pairs.collect()
    assert len(rows) > 0
    for r in rows:
        assert r["score"] >= 0.3  # precision is exact
        assert r["id_a"] < r["id_b"]


def test_zorder_write_narrows_per_file_ranges(spark, tmp_path):
    import pyarrow.parquet as pq
    import glob
    import os

    from pyspark.sql import functions as F
    from blueforty___etl_data_pipeline_spark.functions.zorder import (
        write_zordered,
    )

    n = 4096 * 4
    df = spark.range(n).select(
        (F.col("id") % 4096).alias("x"),
        ((F.col("id") * 2654435761) % 4096).alias("y"),
    )

    def span_fraction(path: str, col: str) -> float:
        """Mean per-file (max-min)/global_range for `col`."""
        fracs = []
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            fracs.append((hi - lo) / 4095.0)
        return sum(fracs) / len(fracs)

    naive = str(tmp_path / "naive")
    df.repartition(16).write.parquet(naive)
    zpath = str(tmp_path / "zordered")
    write_zordered(df, zpath, "x", "y", n_files=16, bits=12)

    # Random layout: every file spans ~the full domain of both columns.
    assert span_fraction(naive, "x") > 0.9
    assert span_fraction(naive, "y") > 0.9
    # Z-ordered: BOTH columns' per-file spans shrink — the property
    # min/max file skipping needs. 16 files over a 2-D grid → each file
    # covers ~1/4 of each axis; allow slack for boundary files.
    assert span_fraction(zpath, "x") < 0.5
    assert span_fraction(zpath, "y") < 0.5

    # and the z-value itself round-trips the full row count
    assert spark.read.parquet(zpath).count() == n


def test_runtime_bloom_filter_injected(spark, sf_small):
    """AQE runtime filters: a selective dimension filter on one side of
    a SortMergeJoin injects a bloom filter (might_contain) into the
    fact scan — the 100 TB join-pruning feature, pinned here so a conf
    regression can't silently drop it."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_small, "lineitem")
        o = load_table(spark, sf_small, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            "l_orderkey", "o_orderpriority"
        )
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert joined.count() > 0
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_skew_report_salt_factor_and_share(spark):
    from blueforty___etl_data_pipeline_spark.operators.skew import skew_report

    # key "hot" holds 75 of 100 rows -> 750 permille, salt ceil(75/20)=4;
    # "cold" holds 25 -> 250 permille, salt ceil(25/20)=2.
    df = spark.createDataFrame(
        [("hot",)] * 75 + [("cold",)] * 25, "k string"
    )
    rows = {
        r["k"]: (r["n_rows"], r["share_permille"], r["suggested_salt"])
        for r in skew_report(df, key="k", target_rows_per_task=20).collect()
    }
    assert rows == {"hot": (75, 750, 4), "cold": (25, 250, 2)}


def test_heavy_hitters_randomized_vs_exact(spark):
    import random
    from collections import Counter

    from blueforty___etl_data_pipeline_spark.operators.profile import (
        heavy_hitters,
    )

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        # zipf-ish stream: few hot values, long unique tail
        vals = (
            [f"h{i}" for i in range(3) for _ in range(rng.randint(60, 120))]
            + [f"u{seed}_{i}" for i in range(rng.randint(150, 250))]
        )
        rng.shuffle(vals)
        k = 7
        exact = {
            v: c
            for v, c in Counter(vals).items()
            if c * k > len(vals)
        }
        got = {
            r["w"]: r["n_rows"]
            for r in heavy_hitters(
                spark.createDataFrame([(v,) for v in vals], "w string")
                .repartition(5),
                "w",
                k=k,
            ).collect()
        }
        assert got == exact, f"seed {seed}"


def test_interval_concurrency_randomized_vs_bruteforce(spark):
    import random

    from blueforty___etl_data_pipeline_spark.operators.temporal import (
        interval_concurrency,
    )

    for seed in (0, 1):
        rng = random.Random(seed)
        ivs = [
            (rng.randint(0, 50), rng.randint(1, 20)) for _ in range(60)
        ]
        rows = [("k", s, s + d) for s, d in ivs]
        # brute force: evaluate concurrency of half-open intervals at
        # every start point (peaks occur at starts)
        def conc(t):
            return sum(1 for s, d in ivs if s <= t < s + d)

        peaks = [(conc(s), s) for s, _ in ivs]
        best = max(peaks)
        best_t = min(s for c, s in peaks if c == best[0])
        out = interval_concurrency(
            spark.createDataFrame(rows, "k string, s long, e long"),
            start_col="s", end_col="e", key_col="k",
        ).collect()[0]
        assert (out["max_concurrent"], out["first_peak"]) == (
            best[0], best_t,
        ), f"seed {seed}"


def _fmt_plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_round5_query_plan_pins(spark):
    """Per-query physical-shape pins for the round-5 additions — the
    specific scale claims PLANS.md makes, as regression guards."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sf = "/root/testdata/sf0.001"

    # epoch_pipeline: exactly ONE exchange (the shard partitioning),
    # one Generate, quality predicates pushed into the parquet scan
    p = _fmt_plan(qs["epoch_pipeline"](spark, sf))
    assert p.count("(1) Scan parquet") == 1
    exchanges = [ln for ln in p.splitlines()
                 if ln.strip().startswith("(") and "Exchange" in ln]
    assert len(exchanges) == 1, exchanges
    assert "PushedFilters" in p

    # pq_search: every join broadcast (LUT is tiny), top-k group-limited
    p = _fmt_plan(qs["pq_search"](spark, sf))
    assert "SortMergeJoin" not in p
    assert "WindowGroupLimit" in p

    # ivf_pq_search: the LUT/probe joins broadcast and the top-k is
    # group-limited; the one allowed shuffle join is codes ⋈ assigned
    # (two corpus-sized index tables co-keyed on id — broadcast is
    # impossible there by design)
    p = _fmt_plan(qs["ivf_pq_search"](spark, sf))
    assert "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p

    # record_linkage: the block join is a broadcast hash join here
    # (tiny sides at this sf) and scoring adds no exchange after it
    p = _fmt_plan(qs["record_linkage"](spark, sf))
    assert "BroadcastHashJoin" in p

    # frequent_pairs: item-count joins broadcast onto the pair counts
    p = _fmt_plan(qs["frequent_pairs"](spark, sf))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_hilbert_value_matches_reference_and_is_bijective(spark):
    from blueforty___etl_data_pipeline_spark.functions.zorder import (
        hilbert_value,
    )

    def xy2d(bits, x, y):
        rx = ry = d = 0
        s = 1 << (bits - 1)
        while s > 0:
            rx = 1 if (x & s) else 0
            ry = 1 if (y & s) else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s >>= 1
        return d

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["h"]
        for r in hilbert_value(df, "x", "y", bits=4).collect()
    }
    assert all(got[(x, y)] == xy2d(4, x, y) for x, y in rows)
    # bijective over the full 4-bit grid
    assert sorted(got.values()) == list(range(256))
    # locality: consecutive curve positions are grid-adjacent (the
    # property Morton does NOT have)
    inv = {d: xy for xy, d in got.items()}
    for d in range(255):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_geohash_reference_vectors_and_prefix_nesting(spark):
    """Pin the encoder against public geohash test vectors, and the
    prefix-containment law (precision-5 hash is a prefix of the
    precision-8 hash for the same point) that spatial rollups rely
    on."""
    from pyspark.sql import functions as F

    from blueforty___etl_data_pipeline_spark.functions.geo import (
        geohash_encode,
    )

    pts = [
        (57.64911, 10.40744, "u4pruydq"),  # Jutland classic vector
        (42.6, -5.6, "ezs42e44"),          # wikipedia example
        (-25.382708, -49.265506, "6gkzwgjz"),
        (0.0, 0.0, "s0000000"),
        (90.0, 180.0, "zzzzzzzz"),         # clamp at the poles
        (-90.0, -180.0, "00000000"),
    ]
    df = spark.createDataFrame(
        [(la, lo) for la, lo, _ in pts], ["lat", "lon"]
    )
    out = df.select(
        geohash_encode(F.col("lat"), F.col("lon"), 8).alias("gh8"),
        geohash_encode(F.col("lat"), F.col("lon"), 5).alias("gh5"),
    ).collect()
    for (la, lo, want), row in zip(pts, out):
        assert row["gh8"] == want, (la, lo, row["gh8"])
        assert row["gh8"].startswith(row["gh5"])
    # pure codegen: no Python eval in the plan
    plan = (
        df.select(geohash_encode(F.col("lat"), F.col("lon"), 8))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan


def test_parquet_footer_stats_match_truth(spark, tmp_path):
    from pyspark.sql import functions as F

    from blueforty___etl_data_pipeline_spark.sinks import (
        parquet_footer_stats,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") * 3 % 97).alias("v"),
        F.when(F.col("id") % 4 == 0, F.col("id")).alias("maybe"),
    )
    out = str(tmp_path / "pq")
    df.repartition(3, "id").write.parquet(out)

    stats = parquet_footer_stats(spark, out)
    per_col = {
        r["column"]: r
        for r in stats.groupBy("column")
        .agg(
            F.sum("n_rows").alias("rows"),
            F.sum("n_nulls").alias("nulls"),
            F.min(F.col("min_val").cast("long")).alias("mn"),
            F.max(F.col("max_val").cast("long")).alias("mx"),
        )
        .collect()
    }
    assert per_col["id"]["rows"] == 1000
    assert (per_col["id"]["mn"], per_col["id"]["mx"]) == (0, 999)
    assert (per_col["v"]["mn"], per_col["v"]["mx"]) == (0, 96)
    assert per_col["maybe"]["nulls"] == 750
    assert per_col["maybe"]["mn"] == 0 and per_col["maybe"]["mx"] == 996

    # footer-only contract: row-group granularity exists (>= 3 files)
    assert stats.select("file").distinct().count() == 3


def test_spread_scan_adaptive_repartition(spark, tmp_path):
    # Guide §2.5: a single-row-group parquet file reads as ONE task,
    # serializing any compute fused into the scan; the helper repairs
    # that by hash-repartitioning on the named key to the session
    # parallelism — and must be an IDENTITY when the scan can already
    # supply that many tasks (the at-scale path).
    from pyspark.sql import functions as F

    from blueforty___etl_data_pipeline_spark.parallelism import spread_scan

    par = spark.sparkContext.defaultParallelism
    if par <= 1:
        pytest.skip("spread_scan is an identity at defaultParallelism <= 1")
    src = str(tmp_path / "one_group")
    spark.range(10_000).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)

    out = spread_scan(df, "id")
    # plan carries a hash exchange on the given key, to the session's
    # parallelism...
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id#" in plan and "REPARTITION_BY_NUM" in plan
    assert f", {par}), REPARTITION_BY_NUM" in plan
    assert "RoundRobinPartitioning" not in plan
    # ...every row lands in the same partition on a second run (what a
    # retried task relies on; no pre-exchange sort needed)...
    placed = out.select("id", F.spark_partition_id().alias("p"))
    assert sorted(map(tuple, placed.collect())) == sorted(
        map(tuple, placed.collect())
    )
    assert placed.select("p").distinct().count() > 1
    # ...and results are identical as a multiset
    base = df.groupBy((F.col("id") % 7).alias("k")).count()
    got = out.groupBy((F.col("id") % 7).alias("k")).count()
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, got.collect())
    )

    # identity when the estimated scan parallelism covers the session:
    # many files -> est tasks >= defaultParallelism -> no repartition
    many = str(tmp_path / "many_files")
    spark.range(10_000).repartition(par).write.parquet(many)
    df_many = spark.read.parquet(many)
    assert spread_scan(df_many, "id") is df_many
    # a key is required: hashing all columns would defeat column pruning
    with pytest.raises(ValueError):
        spread_scan(df)


def test_spread_scan_leaves_unsized_inputs_alone(spark, tmp_path, monkeypatch):
    # A file whose size cannot be read (an object-store URI) must not be
    # sized as 0 bytes and trigger a repartition: the helper cannot
    # measure its input, so the plan stays as it is.
    from blueforty___etl_data_pipeline_spark.parallelism import spread_scan

    src = str(tmp_path / "one_group")
    spark.range(100).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    local = df.inputFiles()
    monkeypatch.setattr(df, "inputFiles", lambda: ["s3://bucket/t/part-0.parquet"])
    assert spread_scan(df, "id") is df
    monkeypatch.setattr(df, "inputFiles", lambda: local + ["s3a://bucket/t/k"])
    assert spread_scan(df, "id") is df


def _load_and_count_jobs(spark, sf_dir, name, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc._jsc.clearJobGroup()  # noqa: SLF001
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_pins_inferred_schema(spark, tmp_path):
    # Parquet schema inference is a Spark job per read; load_table infers
    # once per file version and pins the schema afterwards.
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(
        path
    )
    first, jobs = _load_and_count_jobs(spark, sf, "t", "load-table-first")
    assert jobs >= 1
    again, jobs = _load_and_count_jobs(spark, sf, "t", "load-table-again")
    assert jobs == 0
    assert again.schema == first.schema
    assert again.agg(F.sum("v")).first()[0] == 9900
    # a fresh relation per call: two loads carry distinct attribute ids,
    # so a self-join of them is well defined
    def ids(df):
        return df._jdf.queryExecution().analyzed().output().toString()

    assert ids(again) != ids(first)
    pairs = first.alias("a").join(
        again.alias("b"), F.col("a.id") == F.col("b.v")
    )
    assert pairs.count() == 50

    # rewriting the file makes the next load infer again
    spark.range(10).selectExpr("id", "'x' AS w").coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    rewritten, jobs = _load_and_count_jobs(spark, sf, "t", "load-table-new")
    assert jobs >= 1
    assert rewritten.columns == ["id", "w"]
    assert rewritten.count() == 10


def test_spread_scan_parses_byte_size_suffixes():
    from blueforty___etl_data_pipeline_spark.parallelism import _parse_bytes

    assert _parse_bytes("134217728b") == 128 << 20  # Spark's default
    assert _parse_bytes("134217728") == 128 << 20
    assert _parse_bytes("64m") == 64 << 20
    assert _parse_bytes("64MB") == 64 << 20
    assert _parse_bytes("512k") == 512 << 10
    assert _parse_bytes("2g") == 2 << 30
    assert _parse_bytes("lots") is None


def test_spread_scan_honours_suffixed_max_partition_bytes(spark, tmp_path):
    # "1g" is a gigabyte, not 1 byte: a small single file then estimates
    # as one task, below the session's parallelism, so the helper spreads.
    from blueforty___etl_data_pipeline_spark.parallelism import spread_scan

    if spark.sparkContext.defaultParallelism <= 1:
        pytest.skip("spread_scan is an identity at defaultParallelism <= 1")
    src = str(tmp_path / "one_file")
    spark.range(10_000).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1g")
    try:
        assert spread_scan(df, "id") is not df
    finally:
        spark.conf.set(key, old)
