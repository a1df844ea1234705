"""Deterministic sampling, split assignment, and per-group quotas for
training-data pipelines (north-star extension; BASELINE.json).

Everything here keys on a PORTABLE content hash (functions/text.md5_hash64)
instead of ``rand()``: at 100 TB a training split must be (a) reproducible
run-to-run, (b) stable under repartitioning, and (c) recomputable by any
engine auditing the corpus — none of which holds for RNG-based sampling.
``rand()`` also breaks Spark's task-retry determinism guarantees; a hash
of the row id cannot.

Reference provenance: the reference has no sampling surface — the closest
analog is its schema-inference row cap (BlueForty.py:286-288, sample 100
rows), which is a driver-side head, not a statistical sample.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_hash64, tokens_ws
from ..lineage import cut_lineage

#: Hash-bucket resolution for fractions/splits: 1e-4 granularity.
_BUCKETS = 10_000


def _bucket(id_col: Column, salt: str) -> Column:
    """Stable bucket in [0, _BUCKETS): md5 of ``salt:id``.  The salt
    decorrelates independent sampling decisions over the same ids (a
    90% keep-sample and a 1% eval-split must not share buckets)."""
    return (
        md5_hash64(F.concat(F.lit(salt + ":"), id_col.cast("string")))
        % _BUCKETS
    )


def hash_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic ``fraction`` sample: keep rows whose salted id-hash
    bucket falls below the cutoff.  Shuffle-free scan filter; the same
    (id, salt) is kept or dropped identically on every run and engine."""
    cutoff = int(round(fraction * _BUCKETS))
    return df.filter(_bucket(F.col(id_col), salt) < cutoff)


def hash_split(
    df: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Assign every row a split label (train/val/test by default,
    98/1/1) from contiguous ranges of the salted id-hash bucket.
    Pure map stage: no shuffle, no RNG, no driver state — each row's
    split is a function of its id alone, so late-arriving data lands in
    consistent splits and any engine can re-derive the assignment.

    Returns ``df`` plus a ``split`` column; weights are normalized.
    """
    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    b = _bucket(F.col(id_col), salt)
    expr: Column | None = None
    hi = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        hi += w / total * _BUCKETS
        cond = b < F.lit(int(round(hi)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def quota_cap(
    df: DataFrame,
    group_col: str = "source",
    n: int = 100,
    id_col: str = "doc_id",
    salt: str = "quota",
) -> DataFrame:
    """Cap each group (domain/source/license bucket) at ``n`` rows,
    keeping a deterministic pseudo-random subset: rank rows inside the
    group by (salted id-hash, id) and keep the first ``n``.

    One shuffle on ``group_col``.  Skew note: a mega-domain makes one
    hot partition; for those, pre-filter with
    ``hash_sample(df, f)`` at a fraction that over-samples the cap
    (f ≈ 2n / est_group_size) before ranking — the window then runs on
    ~2n rows per group instead of the full group.
    """
    w = Window.partitionBy(group_col).orderBy(
        _bucket(F.col(id_col), salt), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sampling: each stratum keeps its own
    fraction of rows (the ``sampleBy`` shape, but hash-keyed instead of
    RNG so results are reproducible, repartition-stable, and
    recomputable by any engine).

    Strata absent from ``fractions`` keep ``default_fraction`` (0 drops
    them — the common "downsample the over-represented sources" use).
    Pure map-stage filter: no shuffle, no RNG, no driver state; the
    per-stratum cutoff is a small CASE expression, so this scales to
    any number of rows and any (bounded) number of strata.
    """
    b = _bucket(F.col(id_col), salt)
    cutoff: Column = F.lit(int(round(default_fraction * _BUCKETS)))
    for stratum, frac in sorted(fractions.items()):
        cutoff = F.when(
            F.col(strata_col) == stratum,
            F.lit(int(round(frac * _BUCKETS))),
        ).otherwise(cutoff)
    return df.filter(b < cutoff)


def mix_sources(
    df: DataFrame,
    weights: dict[str, int],
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Training-data mixing: downsample each source so the OUTPUT token
    distribution matches the target ``weights`` (integer shares, e.g.
    ``{"web": 5, "wiki": 3, "code": 2}``) as closely as doc-granular
    sampling allows, WITHOUT upsampling any source.

    The achievable corpus size is pinned by the scarcest source
    relative to its target: N = min_s floor(T_s · W / w_s) (T_s =
    source token total, W = Σ weights).  Each source then keeps a
    deterministic hash-sample at cutoff_s = floor(w_s · N · B / (W ·
    T_s)) buckets of B — every arithmetic step is integer, so the kept
    set is bit-reproducible by any engine.  Sources absent from
    ``weights`` are dropped (weight 0).

    Scale shape: one partial-agged token-total pass per source (the
    per-source table is tiny), a broadcast join of the cutoffs back,
    and a map-stage bucket filter — no global shuffle of the corpus.
    Doc-granular sampling matches token shares in expectation; exact
    token-level shares would require splitting documents (see
    chunk_documents if that is acceptable).
    """
    from ..functions.text import token_count_ws

    w_total = sum(weights.values())
    wmap = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv]
    )
    toks = df.select(
        F.col(group_col).alias("_g"),
        token_count_ws(F.col(text_col)).alias("_n"),
    )
    per_source = (
        toks.groupBy("_g")
        .agg(F.sum("_n").alias("_tot"))
        .withColumn("_w", wmap[F.col("_g")])
        .filter(F.col("_w").isNotNull() & (F.col("_w") > 0))
    )
    # N = min_s floor(T_s * W / w_s), DECIMAL(38,0) head-room so web-
    # scale token totals never wrap int64 mid-product.  Computed as a
    # global window over the tiny per-source table (not a separate
    # agg+crossJoin branch): Spark does not share subplans, so the
    # branch form re-runs the corpus token aggregation — one extra full
    # scan at 100 TB — while the window is a single-partition pass over
    # |sources| rows.
    g = Window.partitionBy(F.lit(1))
    cutoffs = per_source.withColumn(
        "_n_corpus",
        F.min(
            F.expr(f"CAST(_tot AS DECIMAL(38,0)) * {w_total} DIV _w")
        ).over(g),
    ).select(
        "_g",
        F.expr(
            f"CAST(_w AS DECIMAL(38,0)) * _n_corpus * {_BUCKETS}"
            f" DIV (CAST({w_total} AS DECIMAL(38,0)) * _tot)"
        )
        .cast("long")
        .alias("_cutoff"),
    )
    b = _bucket(F.col(id_col), salt)
    return (
        df.join(
            F.broadcast(cutoffs), df[group_col] == F.col("_g"), "inner"
        )
        .filter(b < F.col("_cutoff"))
        .drop("_g", "_cutoff")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual /
    multi-domain smoothing of mC4 and XLM-R): target share of source s
    is ``sqrt(T_s) / Σ sqrt(T_j)`` (temperature α = 1/2), which lifts
    tail sources and damps head sources relative to their natural token
    shares — WITHOUT upsampling anything.  Unlike :func:`mix_sources`
    the targets are derived from the corpus itself, no weight dict.

    Exactness across engines: ``sqrt`` is IEEE-correctly-rounded, so
    ``FLOOR(sqrt(T_s)·1e6)`` is the same integer in any engine; from
    there every step (share denominator, achievable corpus size
    ``N = min_s floor(T_s · Σw / w_s)``, per-source bucket cutoff) is
    integer/DECIMAL(38,0) arithmetic — the kept set is bit-reproducible.

    Scale shape identical to mix_sources: one partial-agged token-total
    pass, tiny per-source cutoff table broadcast back, map-stage bucket
    filter.  No corpus shuffle.
    """
    from ..functions.text import token_count_ws

    toks = df.select(
        F.col(group_col).alias("_g"),
        token_count_ws(F.col(text_col)).alias("_n"),
    )
    per_source = (
        toks.groupBy("_g")
        .agg(F.sum("_n").alias("_tot"))
        .filter(F.col("_tot") > 0)
        .withColumn(
            "_wfp",
            F.floor(F.sqrt(F.col("_tot")) * F.lit(1_000_000)).cast("long"),
        )
    )
    # The share denominator and achievable corpus size are GLOBAL
    # reductions over per_source — computed as windows over the tiny
    # per-source table (one row per source) rather than separate
    # agg+crossJoin branches: Spark does not share subplans, so the
    # agg/crossJoin form re-runs the corpus token aggregation once per
    # branch (3 extra full scans at 100 TB).  A global window over
    # |sources| rows is one single-partition pass over a handful of
    # rows.
    g = Window.partitionBy(F.lit(1))
    cutoffs = (
        per_source.withColumn("_wsum", F.sum("_wfp").over(g))
        .withColumn(
            "_n_corpus",
            F.min(
                F.expr("CAST(_tot AS DECIMAL(38,0)) * _wsum DIV _wfp")
            ).over(g),
        )
        .select(
            "_g",
            F.expr(
                f"CAST(_wfp AS DECIMAL(38,0)) * _n_corpus * {_BUCKETS}"
                f" DIV (CAST(_wsum AS DECIMAL(38,0)) * _tot)"
            )
            .cast("long")
            .alias("_cutoff"),
        )
    )
    b = _bucket(F.col(id_col), salt)
    return (
        df.join(
            F.broadcast(cutoffs), df[group_col] == F.col("_g"), "inner"
        )
        .filter(b < F.least(F.col("_cutoff"), F.lit(_BUCKETS)))
        .drop("_g", "_cutoff")
    )


def select_until_budget(
    df: DataFrame,
    budget: int,
    order_col: str,
    bin_width: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy token-budget curation: take documents in priority order
    (``order_col`` DESCENDING — quality score, length, recency) until
    the token budget is exhausted; a document is kept iff the tokens
    BEFORE it fit strictly inside ``budget``, so the crossing document
    is included.  Ties break on ascending id — the kept set is total-
    order deterministic.

    Scale shape: the same two-phase distributed prefix sum as
    assign_packs_scalable, but ordered by VALUE, not id: docs partition
    into fixed-width ``bin_width`` bins of ``order_col`` (bin is
    monotone in the score, so (bin desc, score desc, id) is the global
    priority order), each bin computes its local cumulative sum in
    parallel, and only the tiny per-bin totals see a global window.
    No single-partition pass over the corpus; make ``bin_width`` small
    enough that no one bin dominates (bins ≈ value range / width).

    Returns (id, order value, n_tokens, cum_tokens) for the kept docs,
    cum_tokens inclusive.
    """
    from ..functions.text import token_count_ws

    base = df.select(
        F.col(id_col),
        F.col(order_col).alias("_ord"),
        token_count_ws(F.col(text_col)).alias("n_tokens"),
        F.floor(F.col(order_col) / F.lit(bin_width)).alias("_bin"),
    )
    w_local = (
        Window.partitionBy("_bin")
        .orderBy(F.desc("_ord"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("_local_cum", F.sum("n_tokens").over(w_local))
    bin_totals = base.groupBy("_bin").agg(
        F.sum("n_tokens").alias("_bin_tot")
    )
    w_bins = (
        Window.orderBy(F.desc("_bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = bin_totals.select(
        "_bin",
        (F.sum("_bin_tot").over(w_bins) - F.col("_bin_tot")).alias(
            "_offset"
        ),
    )
    return (
        local.join(F.broadcast(offsets), "_bin")
        .withColumn("cum_tokens", F.col("_offset") + F.col("_local_cum"))
        .filter(F.col("cum_tokens") - F.col("n_tokens") < F.lit(budget))
        .select(
            id_col,
            F.col("_ord").alias(order_col),
            "n_tokens",
            "cum_tokens",
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    max_weight: int,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic importance sampling: keep each row with probability
    ``weight/max_weight`` (weights ≥ max_weight always keep; ≤ 0 always
    drop) — the soft quality filter of LLM curation: instead of a hard
    threshold, high-scoring documents survive proportionally more often,
    preserving some distribution tail.

    The keep decision is ``bucket(id) < weight·B div max_weight`` —
    integer arithmetic on a salted id-hash, so it is RNG-free,
    retry-reproducible, repartition-stable, and engine-exact (same shape
    as hash_sample, with a per-row cutoff).  Pure map-stage filter: no
    shuffle, pushes to the scan alongside other predicates.
    """
    b = _bucket(F.col(id_col), salt)
    cutoff = F.expr(
        f"CAST({weight_col} AS BIGINT) * {_BUCKETS} div {max_weight}"
    )
    return df.filter(b < F.least(cutoff, F.lit(_BUCKETS)))


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    buckets: int = 40,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each anchor gets ``k`` pseudo-random OTHER rows, reproducible under
    retries, repartitioning, and engines (no RNG state anywhere).

    Mechanics: rows hash into ``buckets`` md5-derived buckets; anchors
    draw candidates from their own bucket via an equi-join (≈ n/buckets
    candidates per anchor — NEVER the n² cross join), and the k kept
    negatives are the candidates with the smallest pair hash
    md5(anchor:candidate) — a deterministic stand-in for "uniform
    without replacement".  Returns (anchor, negative, rank) with rank
    1..k.

    Scale: one bucket equi-join (both sides partial-projected to two
    columns) + one per-anchor window over the bucket-bounded candidate
    set.  Tune ``buckets`` so n/buckets stays comfortably above k but
    far below memory — at 1e9 rows and buckets=1e6, candidates ≈ 1000
    per anchor for k ≈ 5.
    """
    ids = F.col(id_col).cast("string")
    b = md5_hash64(ids) % buckets
    left = df.select(
        F.col(id_col).alias("anchor"), b.alias("_b")
    )
    right = df.select(
        F.col(id_col).alias("negative"), b.alias("_b")
    )
    cand = left.join(right, on="_b").filter(
        F.col("anchor") != F.col("negative")
    )
    pair_h = md5_hash64(
        F.concat(
            F.col("anchor").cast("string"),
            F.lit(":"),
            F.col("negative").cast("string"),
        )
    )
    w = Window.partitionBy("anchor").orderBy(pair_h, F.col("negative"))
    return (
        cand.select(
            "anchor",
            "negative",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )


def rendezvous_shards(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rendezvous (highest-random-weight, Thaler & Ravishankar 1996)
    shard assignment with a scale-out audit: each row goes to the
    shard whose salted hash of (shard, id) is highest — the
    consistent-hashing discipline under which growing the fleet from
    S to S+1 shards moves EXACTLY the rows the new shard wins
    (expected 1/(S+1) of the corpus) and never reshuffles rows between
    surviving shards.  The property :func:`shuffle_shards`' mod-S
    layout lacks: there, S→S+1 moves ~S/(S+1) of everything.

    Ties (astronomically unlikely on 60-bit hashes) break to the
    LOWEST shard index — first-position-of-max in both engines.

    Returns (id, shard, shard_next, moved): the assignment at
    ``n_shards``, at ``n_shards + 1``, and whether the row migrates.
    Pure map stage — no shuffle, no state; reassignment under scale-out
    is a filter on ``moved``."""

    def harr(n: int) -> Column:
        return F.array(
            *[
                md5_hash64(
                    F.concat(
                        F.lit(f"hrw:{s}:"), F.col(id_col).cast("string")
                    )
                )
                for s in range(n)
            ]
        )

    def shard_of(n: int) -> Column:
        arr = harr(n)
        return (
            F.array_position(arr, F.array_max(arr)) - 1
        ).cast("int")

    return df.select(
        F.col(id_col),
        shard_of(n_shards).alias("shard"),
        shard_of(n_shards + 1).alias("shard_next"),
    ).withColumn("moved", F.col("shard") != F.col("shard_next"))


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic training-data shuffle + shard assignment: every
    row gets a ``shard`` in [0, n_shards) and a 0-based ``pos`` within
    its shard, both pure functions of the row id — the layout a
    training job reads (shard files consumed round-robin give a
    reproducible global shuffle without any RNG state).

    ``shard`` and the within-shard order both derive from the salted
    md5 bucket (order tiebreaks on id), so the "shuffle" is as good as
    the hash and any engine can re-derive byte-identical shards.

    Returns the input columns + (shard, pos).

    Scale shape: one shuffle partitioned by shard + a per-shard sort
    for the rank — the standard shard-writing shape (each shard is
    sorted by its own task set; pick ``n_shards`` ≥ cluster
    parallelism so no reducer owns more than one shard's rows).
    """
    from pyspark.sql import Window

    h = md5_hash64(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (
        df.select(
            "*",
            (h % n_shards).alias("shard"),
            h.alias("_h"),
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .drop("_h")
    )


def shuffle_quality(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    group_col: str = "source",
    salt: str = "shuffle",
) -> DataFrame:
    """Shuffle-quality audit of the :func:`shuffle_shards` layout: a
    training shuffle is good when CONSECUTIVE reads are uncorrelated,
    so per shard this measures the adjacent-pair same-group rate and
    sets it against the independence expectation Σ share² (the rate a
    perfect shuffle converges to; a sorted-by-source layout reads
    ~1000 permille).  The curriculum/debugging readout before anyone
    blames the data order for a loss spike.

    Returns one row per shard: (shard, n_pairs, n_same,
    same_permille, expected_permille) — expected is global, broadcast
    onto the shard rows.

    Scale shape: the layout's own per-shard window gives each row its
    predecessor (one lag on the existing (shard, pos) order — no new
    shuffle beyond the layout's); the expectation is a group-share
    aggregate in DECIMAL(38,0) (share² sums overflow int64 past ~3e9
    rows)."""
    laid = shuffle_shards(
        df.select(id_col, group_col), n_shards, id_col=id_col, salt=salt
    )
    w = Window.partitionBy("shard").orderBy("pos")
    pairs = laid.select(
        "shard",
        (F.lag(group_col).over(w) == F.col(group_col))
        .cast("long")
        .alias("same"),
    ).filter(F.col("same").isNotNull())
    per_shard = pairs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("same").alias("n_same"),
    )
    shares = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    expected = shares.agg(
        F.expr(
            "CAST(1000 * SUM(CAST(n AS DECIMAL(38,0)) * n)"
            " DIV (SUM(CAST(n AS DECIMAL(38,0))) * SUM(n)) AS BIGINT)"
        ).alias("expected_permille")
    )
    return per_shard.crossJoin(F.broadcast(expected)).select(
        "shard",
        "n_pairs",
        "n_same",
        F.expr("1000 * n_same div n_pairs").alias("same_permille"),
        "expected_permille",
    )


def fair_interleave(
    df: DataFrame,
    key_col: str,
    order_cols: "Sequence[str]",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fair round-robin interleave — the crawl-politeness / fair-mix
    schedule: emit every key's 1st item (keys in key order), then
    every key's 2nd, and so on, so no key monopolizes the head of the
    queue and same-key items sit ≥ #active-keys slots apart.  The
    deterministic twin of what a politeness-aware frontier or a
    source-fair data loader does with queues.

    The global slot is just the lexicographic rank of (per-key round,
    key): one ordinarily-partitioned window for the round, then the
    distributed two-phase rank (:func:`operators.analytics.
    exact_global_rank`) over it — never a single-partition sort.

    Returns the input columns + (rnd, slot); slot is the dense global
    schedule position 1..n."""
    from .analytics import exact_global_rank

    w = Window.partitionBy(key_col).orderBy(*order_cols)
    rounds = df.withColumn("rnd", F.row_number().over(w).cast("long"))
    # (rnd, key) is unique per row, so the (value, tie) order below is
    # total; key ties inside a round order by the key itself
    out, _n = exact_global_rank(rounds, "rnd", key_col, out_col="slot")
    return out


def materialize_epoch(
    df: DataFrame,
    epochs_permille: dict[str, int],
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "epoch",
) -> DataFrame:
    """Materialize one training epoch from per-source repetition
    factors — the UPSAMPLING counterpart of :func:`mix_sources` (which
    only ever downsamples) and the step that turns a computed mix into
    an actual dataset: a source weighted 2300 permille contributes each
    of its documents 2 times, plus a deterministic 30% hash-slice a
    third time (fractional epochs via salted md5 buckets, not RNG — the
    same id always gets the extra copy, on every run and engine).

    Emits every input column plus ``copy_id`` (0-based repeat ordinal),
    so downstream shard shuffling can decorrelate the copies (feed
    (id, copy_id) to ``shuffle_shards``).  Sources absent from
    ``epochs_permille`` are dropped — an epoch spec is total.

    Scale shape: zero shuffles and zero aggregations — the weight map
    is a literal, the repeat count is map-side arithmetic, and the
    copies come from one Generate (explode of a 0..n-1 sequence) that
    multiplies rows by at most ``ceil(max weight / 1000)``.  Output
    size is exactly Σ_s rows_s · epochs_s — the planner sees the
    explode and sizes downstream partitions accordingly.
    """
    wmap = F.create_map(
        *[F.lit(x) for kv in epochs_permille.items() for x in kv]
    )
    w = wmap[F.col(group_col)].cast("long")
    base = F.floor(w / 1000).cast("int")
    extra = (
        _bucket(F.col(id_col), salt) < (w % 1000) * (_BUCKETS // 1000)
    ).cast("int")
    repeats = (base + extra).alias("_reps")
    return (
        df.withColumn("_reps", repeats)
        .filter(F.col("_reps") > 0)
        .withColumn(
            "copy_id",
            F.explode(F.sequence(F.lit(0), F.col("_reps") - 1)),
        )
        .drop("_reps")
    )


#: Cumulative Poisson(1) CDF at (2^31 − 1) scale — floor(m · P(X <= k))
#: for k = 0..5; draws past the last threshold get weight 6.
_POISSON1_CDF_M31 = (
    790015083, 1580030167, 1975037709, 2106706890, 2139624185,
    2146207644,
)

_MINSTD_M = 2147483647  # 2^31 − 1 (prime)
_MINSTD_A = 48271


def poisson_bootstrap_mean(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_boot: int = 100,
    salt: str = "boot",
    alpha_permille: int = 25,
) -> DataFrame:
    """Bootstrap confidence interval for the mean by the POISSON
    bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google 2012) — the resampling scheme that
    distributes: instead of drawing n rows with replacement (which
    needs global coordination), every row independently receives a
    Poisson(1) replication weight per resample; the weight vector is
    an exact multinomial approximation at large n.

    Fully deterministic and engine-exact, with ONE md5 per row (not
    per resample — the per-draw digest variant measured 25× slower at
    sf0.1): the digest seeds a Lehmer/MINSTD generator
    ``u_b = ((seed + 1000003·b) mod m) · 48271 mod m`` over the prime
    modulus m = 2^31−1 (all products < 2^47, exact BIGINT in any
    engine), and each draw maps through the fixed integer Poisson(1)
    inverse-CDF table.  Resample means are floor-divided integer
    ratios; the interval is the order statistic of the ``n_boot``
    means at ``alpha_permille``/1000 each side (1-based ranks
    ``floor(α·B)+1`` and ``B − floor(α·B)``).

    Scale shape: one JVM-side explode by ``n_boot`` (no Python, no
    RNG state), one groupBy on the resample index (≤ ``n_boot``
    groups, map-side combined), then a bounded sort of ``n_boot``
    rows.  Value column must be integer (cents upstream).

    Output: one row — (n_boot, mean, ci_lo, ci_hi) in value units.
    """
    t = _POISSON1_CDF_M31
    m, a = _MINSTD_M, _MINSTD_A
    w_case = (
        f"CASE WHEN u < {t[0]}L THEN 0 WHEN u < {t[1]}L THEN 1 "
        f"WHEN u < {t[2]}L THEN 2 WHEN u < {t[3]}L THEN 3 "
        f"WHEN u < {t[4]}L THEN 4 WHEN u < {t[5]}L THEN 5 ELSE 6 END"
    )
    exploded = (
        df.select(
            F.expr(
                f"pmod(CAST(conv(substring(md5(concat(CAST({id_col} AS "
                f"STRING), ':{salt}')), 1, 15), 16, 10) AS BIGINT), {m})"
            ).alias("seed"),
            F.col(value_col).cast("long").alias("_y"),
        )
        .select(
            "seed",
            "_y",
            F.explode(
                F.sequence(F.lit(0), F.lit(n_boot - 1))
            ).alias("b"),
        )
        .select(
            "b",
            "_y",
            F.expr(
                f"pmod(pmod(seed + 1000003L * b, {m}) * {a}L, {m})"
            ).alias("u"),
        )
        .select("b", "_y", F.expr(w_case).alias("w"))
    )
    per_boot = exploded.groupBy("b").agg(
        F.sum(F.col("w") * F.col("_y")).alias("swy"),
        F.sum("w").alias("sw"),
    )
    means = per_boot.filter(F.col("sw") > 0).select(
        F.expr("swy div sw").alias("m")
    )
    lo_rank = (alpha_permille * n_boot) // 1000 + 1
    hi_rank = n_boot - (alpha_permille * n_boot) // 1000
    w = Window.orderBy("m")
    ranked = means.select("m", F.row_number().over(w).alias("r"))
    # Constant-key GROUPED aggregate, not a global agg: a grouped agg
    # emits NO row on empty input, so an empty partition-pruned slice
    # yields an empty result (no fabricated all-NULL CI row) — same
    # rows-iff-data contract as the oracle's GROUP BY mean.
    point = (
        df.groupBy(F.lit(1).alias("_g"))
        .agg(
            F.expr(
                f"sum(CAST({value_col} AS BIGINT)) div count(1)"
            ).alias("mean")
        )
        .drop("_g")
    )
    ci = ranked.agg(
        F.max(F.when(F.col("r") == lo_rank, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("r") == hi_rank, F.col("m"))).alias("ci_hi"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        F.lit(n_boot).cast("int").alias("n_boot"),
        "mean",
        "ci_lo",
        "ci_hi",
    )


def time_embargo_split(
    df: DataFrame,
    ts_col: str,
    cutoff: str,
    embargo: str = "7 days",
) -> DataFrame:
    """Temporal train/test split with an EMBARGO gap — the leakage
    control for time-series / event models (finance calls it purged
    splitting): everything before ``cutoff − embargo`` trains,
    everything from ``cutoff`` on tests, and rows inside the gap are
    labeled ``embargo`` and EXCLUDED from both, so features computed
    with lookback windows near the boundary cannot leak test-period
    signal into training.

    Pure map stage (two timestamp comparisons, codegen) — no shuffle,
    no RNG; late-arriving rows land in consistent splits.  ``cutoff``
    is an ANSI timestamp string, ``embargo`` an INTERVAL literal
    (e.g. ``'7 days'``, ``'36 hours'``).

    ``cutoff`` is parsed exactly once (as a literal through
    ``to_timestamp``, never interpolated into SQL text), and
    ``embargo`` is validated against the digits/unit-words shape
    before entering an ``INTERVAL`` expression — a quote or stray
    token raises a clean ``ValueError`` here instead of an opaque
    parser error (or worse, an injected expression) at analysis time."""
    if not re.fullmatch(r"[0-9]+(\s+[A-Za-z]+)(\s+[0-9]+\s+[A-Za-z]+)*",
                        embargo.strip()):
        raise ValueError(
            f"embargo must be an INTERVAL body like '7 days' or "
            f"'1 days 12 hours', got {embargo!r}"
        )
    cut = F.to_timestamp(F.lit(cutoff))
    start_gap = cut - F.expr(f"INTERVAL {embargo.strip()}")
    ts = F.col(ts_col)
    return df.withColumn(
        "split",
        F.when(ts < start_gap, "train")
        .when(ts >= cut, "test")
        .otherwise("embargo"),
    )


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Data Selection with Importance Resampling (the DSIR recipe:
    hashed n-gram bag-of-features, importance weight = target/source
    likelihood ratio per feature) realized integer-exact: each word
    BIGRAM hashes into ``n_buckets`` buckets, every bucket gets an
    add-one-smoothed frequency ratio in permille

        w_b = 1000·(target_count_b + 1) // (source_count_b + 1)

    and a SOURCE document's importance is the mean bucket weight over
    its bigram occurrences (``importance_permille``, integer division).
    Rank-descending and take the head to select source data that looks
    like the target domain — the standard pretraining-mix trick when
    curated target data is scarce.

    Returns (id, n_feats, importance_permille) for source-side rows
    with ≥1 bigram.  All arithmetic is integer, so the ranking is
    bit-stable across engines (no log-space float drift; the permille
    ratio is a monotone transform of the smoothed likelihood ratio).

    Scale shape — the corpus is hashed and exploded ONCE (the naive
    form fed both the bucket-count agg and the scoring join from
    separate explodes, re-scanning the corpus; ``.explain`` showed the
    double scan).  The explode collapses immediately to per-(doc,
    bucket) occurrence counts — one shuffle; the global bucket table
    (AT MOST ``n_buckets`` rows however large the corpus) derives from
    THAT table with a second tiny aggregate and BROADCASTS back to the
    scoring join, so the corpus itself never shuffles again.  Bigram
    hashing reuses the md5-per-token + 60-bit-rotation composition of
    the dedup shingles (one md5 per token, not per feature)."""
    from .dedup import _rotl60

    th = F.transform(tokens_ws(F.col(text_col)), md5_hash64)
    big = F.zip_with(
        F.slice(th, 1, F.greatest(F.size(th) - 1, F.lit(0))),
        F.slice(th, 2, F.greatest(F.size(th) - 1, F.lit(0))),
        lambda a, b: F.pmod(_rotl60(a, 4).bitwiseXOR(b), F.lit(n_buckets)),
    )
    doc_bucket = (
        df.select(
            F.col(id_col),
            is_target.alias("_tgt"),
            F.explode(big).alias("_b"),
        )
        .groupBy(id_col, "_tgt", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        # two consumers (global bucket weights + scoring join): cut the
        # lineage so the md5/explode/agg pass runs once, not per branch
        .transform(cut_lineage, eager=False)
    )
    w = (
        doc_bucket.groupBy("_b")
        .agg(
            F.sum(F.when(F.col("_tgt"), F.col("_n")).otherwise(0)).alias(
                "_tc"
            ),
            F.sum(F.when(F.col("_tgt"), 0).otherwise(F.col("_n"))).alias(
                "_sc"
            ),
        )
        .select("_b", F.expr("1000 * (_tc + 1) div (_sc + 1)").alias("_w"))
    )
    return (
        doc_bucket.filter(~F.col("_tgt"))
        .join(F.broadcast(w), on="_b")
        .groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_feats"),
            F.expr("sum(_w * _n) div sum(_n)").alias(
                "importance_permille"
            ),
        )
    )


def group_kfold(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    salt: str = "kfold",
) -> DataFrame:
    """Deterministic GroupKFold assignment: every row gets ``fold =
    hash(salt:group) mod k``, so ALL rows of a group share one fold —
    the cross-validation analog of :func:`hash_split`'s group variant,
    preventing near-duplicate leakage between a fold's train and eval
    halves when duplicates cluster within a group (same source, same
    user, same crawl domain).

    Pure map stage — no shuffle, no RNG, stable under repartitioning
    and late-arriving data; any engine re-derives the same folds.
    Returns ``df`` plus a ``fold`` column (0..k−1)."""
    if k < 2:
        raise ValueError("k must be >= 2")
    return df.withColumn(
        "fold",
        F.pmod(
            md5_hash64(
                F.concat(
                    F.lit(salt + ":"), F.col(group_col).cast("string")
                )
            ),
            F.lit(k),
        ).cast("int"),
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "esample",
) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-Res): every row gets the key ``ln(u) / w`` with ``u``
    uniform in (0,1), and the k LARGEST keys form an exact weighted
    sample — the primitive behind "pick exactly k documents, quality-
    proportional" curation where ``weighted_sample``'s Bernoulli form
    can only hit k in expectation.

    ``u`` derives from the salted id hash ((bucket + 0.5) / B — never
    exactly 0 or 1), so like every sampler here the draw is RNG-free,
    retry-reproducible and engine-exact.  Rows with weight ≤ 0 never
    qualify.  Output adds ``es_score_e9`` (e9-floored key); selection
    order is (floored key DESC, id) — the floor is part of the
    CONTRACT so any engine replays the exact same k rows.

    Scale shape: a pure map-stage score plus ONE TakeOrdered top-k
    fan-in (per-partition heaps, k rows to the driver-side merge) —
    no global sort materialization, no shuffle of corpus rows.
    """
    b = _bucket(F.col(id_col), salt)
    u = (b.cast("double") + F.lit(0.5)) / F.lit(float(_BUCKETS))
    w = F.col(weight_col).cast("double")
    score = F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn(
            "es_score_e9",
            F.floor(F.lit(1000000000.0) * score).cast("long"),
        )
        .orderBy(F.desc("es_score_e9"), F.col(id_col))
        .limit(k)
    )
