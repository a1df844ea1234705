"""Similarity search over embedding columns (north-star extension).

Two paths:

- ``ann_brute_force``: exact top-k by cosine.  Queries (small) are
  broadcast against the corpus — each executor scores its corpus slice
  locally, then a per-query top-k.  O(|Q|·|C|) but embarrassingly
  parallel; the correct baseline and the oracle for the ANN variants.
- ``ann_lsh_bucketed``: random-hyperplane LSH (IVF-style bucketing).
  Each vector gets a sign-pattern bucket from R fixed hyperplanes; only
  same-bucket (query, corpus) pairs are scored — an equi-join, so at
  100 TB the cross product never materializes.  Recall < 1.0 by design;
  multiple hash tables raise it.

Scoring uses the deterministic sequential fold from functions/vectors.py
(JVM-side).  For raw throughput a NumPy ``mapInPandas`` scorer is provided
(``score_batch_numpy``) — Arrow-batched, BLAS matmul per batch — used by
bench for the large-SF runs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import md5_hash64
from ..functions.vectors import dot, l2_norm
from ..lineage import cut_lineage
from .topk import top1_per_group, topk_per_group


def _rounded(score, decimals: int = 9):
    # Rank on a rounded score so ULP-level float differences can never
    # reorder results across engines/runs; ties broken by id.  Differential
    # tests pass a coarser ``decimals`` for extra margin.
    return F.round(score, decimals)


def _paired_cosine(lvec, lnorm, rvec, rnorm):
    """cosine = dot/(‖a‖·‖b‖) with the norms read from pre-projected
    columns.  Projecting the norm BELOW the join means the O(dim) norm
    fold runs once per row instead of once per PAIR (the projection can't
    be collapsed into the post-join select across the join boundary);
    same bits as folding inline, ~3× less per-pair work."""
    denom = lnorm * rnorm
    return F.when(denom > 0, dot(lvec, rvec) / denom)


def ann_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_decimals: int = 9,
) -> DataFrame:
    """Exact cosine top-k: broadcast-cross-join queries × corpus → score →
    top-k per query.  Returns (query_id, neighbor_id, rank)."""
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col("neighbor_id"),
        _rounded(
            _paired_cosine(
                F.col("_cvec"), F.col("_cn"), F.col("_qvec"), F.col("_qn")
            ),
            round_decimals,
        ).alias("score"),
    )
    ranked = topk_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    )
    return ranked.select(query_id_col, "neighbor_id", "score", "rank")


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Fixed pseudo-random unit hyperplanes (Box-Muller over an LCG) —
    deterministic across runs, no numpy dependency at plan-build time."""
    state = seed * 6364136223846793005 + 1442695040888963407 & (2**64 - 1)
    planes = []

    def rnd() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
        return ((state >> 11) + 1) / (2**53 + 2)

    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            u1, u2 = rnd(), rnd()
            v.append(math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.pi * u2))
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket(vec, planes: list[list[float]]):
    """Sign-pattern bucket id for one vector column: bit r set iff
    vec·plane_r ≥ 0."""
    bucket = F.lit(0).cast("bigint")
    for r, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(x)) for x in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d >= 0, F.lit(1 << r)).otherwise(F.lit(0))
    return bucket


def ann_lsh_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_decimals: int = 9,
) -> DataFrame:
    """Approximate top-k: score only same-LSH-bucket pairs.

    The bucket join is a plain equi-join — at scale Catalyst shuffles both
    sides on the bucket key (or broadcasts the query side), touching only
    ~|C|/2^R corpus rows per query instead of all of them.
    """
    planes = _hyperplanes(dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cn"),
        lsh_bucket(F.col(vec_col), planes).alias("_bucket"),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        lsh_bucket(F.col(vec_col), planes).alias("_bucket"),
    )
    scored = c.join(F.broadcast(q), on="_bucket").select(
        F.col(query_id_col),
        F.col("neighbor_id"),
        _rounded(
            _paired_cosine(
                F.col("_cvec"), F.col("_cn"), F.col("_qvec"), F.col("_qn")
            ),
            round_decimals,
        ).alias("score"),
    )
    return topk_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(query_id_col, "neighbor_id", "score", "rank")


def ann_lsh_multitable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_decimals: int = 9,
) -> DataFrame:
    """OR-amplified LSH ANN: ``n_tables`` independent hyperplane sets
    (seeds 7, 8, …; table 0 IS the single-table :func:`ann_lsh_bucketed`
    hashing), a candidate survives if it shares a bucket with the query
    in ANY table.  Per-table miss probability (1 − sim_angle)^R
    multiplies across tables, so recall rises geometrically while cost
    grows only linearly — the standard recall/cost dial of hyperplane
    LSH.

    Scale shape: buckets are map-side per-row folds; candidates come
    from ONE equi-join on (table, bucket) over the posexploded bucket
    arrays (queries broadcast); duplicate pairs from multi-table hits
    collapse in the same per-pair aggregate that carries the score, so
    no re-join against the vectors is needed.  Touches ~n_tables ×
    |C|/2^R corpus rows per query.
    """
    tables = [
        _hyperplanes(dim, n_planes, seed=7 + t) for t in range(n_tables)
    ]

    def with_buckets(df: DataFrame, idc: str, out_id: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(out_id),
            F.col(vec_col).alias("_v"),
            l2_norm(F.col(vec_col)).alias("_n"),
            F.posexplode(
                F.array(
                    *[lsh_bucket(F.col(vec_col), p) for p in tables]
                )
            ).alias("_t", "_bucket"),
        )

    c = with_buckets(corpus, id_col, "neighbor_id")
    q = with_buckets(queries, id_col, query_id_col)
    score = _rounded(
        _paired_cosine(
            F.col("c._v"), F.col("c._n"), F.col("q._v"), F.col("q._n")
        ),
        round_decimals,
    )
    pairs = (
        c.alias("c")
        .join(F.broadcast(q.alias("q")), on=["_t", "_bucket"])
        .select(
            F.col(query_id_col), F.col("neighbor_id"), score.alias("score")
        )
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.max("score").alias("score"))
    )
    return topk_per_group(
        pairs,
        partition_by=[query_id_col],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(query_id_col, "neighbor_id", "score", "rank")


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_stride: int = 50,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_decimals: int = 6,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into centroid cells, probe
    only the ``nprobe`` nearest cells per query.

    Index build: every corpus vector is assigned to its nearest centroid
    (one broadcast pass — the 100 TB shape is "write the assignment out
    bucketed by centroid_id").  Query: score only vectors in the probed
    cells — an equi-join on centroid_id, touching ~nprobe/|cells| of the
    corpus.  Centroids here are a deterministic strided sample of the
    corpus (exact + engine-reproducible); swap in k-means centroids for
    better cell balance at real scale — the plumbing is identical.
    """
    cent = corpus.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_ccn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    cent_score = lambda v, n: _rounded(  # noqa: E731
        _paired_cosine(v, n, F.col("_cv"), F.col("_ccn")), round_decimals
    )
    assigned = top1_per_group(
        c.crossJoin(F.broadcast(cent)).select(
            "neighbor_id", "_v", "_n", "centroid_id",
            cent_score(F.col("_v"), F.col("_n")).alias("_cscore"),
        ),
        partition_by=["neighbor_id"],
        order_by=[F.desc("_cscore"), F.asc("centroid_id")],
    ).select("neighbor_id", "_v", "_n", "centroid_id")
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    probes = topk_per_group(
        q.crossJoin(F.broadcast(cent)).select(
            query_id_col, "_qv", "_qn", "centroid_id",
            cent_score(F.col("_qv"), F.col("_qn")).alias("_cscore"),
        ),
        partition_by=[query_id_col],
        order_by=[F.desc("_cscore"), F.asc("centroid_id")],
        k=nprobe,
    ).select(query_id_col, "_qv", "_qn", "centroid_id")
    scored = assigned.join(F.broadcast(probes), on="centroid_id").select(
        F.col(query_id_col),
        F.col("neighbor_id"),
        _rounded(
            _paired_cosine(
                F.col("_v"), F.col("_n"), F.col("_qv"), F.col("_qn")
            ),
            round_decimals,
        ).alias("score"),
    )
    return topk_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(query_id_col, "neighbor_id", "score", "rank")


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup-family member for
    vector content): same-LSH-bucket self-join → cosine ≥ threshold.

    Scale shape: candidate generation is a bucket equi-join, so the n²
    cross product never materializes — same blocking idea as MinHash LSH
    for text.  Recall is bounded by the bucketing (raise ``n_planes``
    tables or lower R to trade cost for recall); precision is exact
    (every emitted pair is actually ≥ threshold).
    """
    planes = _hyperplanes(dim, n_planes)
    b = emb.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
        lsh_bucket(F.col(vec_col), planes).alias("_bucket"),
    )
    left, right = b.alias("l"), b.alias("r")
    score = _rounded(
        _paired_cosine(
            F.col("l._v"), F.col("l._n"), F.col("r._v"), F.col("r._n")
        ),
        round_decimals,
    )
    return (
        left.join(
            right,
            on=[
                F.col("l._bucket") == F.col("r._bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            score.alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def score_batch_numpy(corpus: DataFrame, query_rows: list[tuple[int, list[float]]],
                      id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Throughput path: Arrow-batched NumPy matmul scorer.

    ``query_rows`` is a small collected list [(query_id, vector), ...]
    broadcast to every task via closure; each ``mapInPandas`` batch scores
    batch_size × |Q| in one BLAS call.  ~10-100× the per-row fold for wide
    batches — use for bench/large SF.
    """
    import numpy as np  # runtime-only import (worker side)

    qids = [int(q[0]) for q in query_rows]
    qmat = np.array([q[1] for q in query_rows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0

    def score(batches):
        import pandas as pd

        for pdf in batches:
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(mat, axis=1)
            norms[norms == 0] = 1.0
            sims = (mat @ qmat.T) / norms[:, None] / qnorm[None, :]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), len(qids)),
                    "score": sims.T.reshape(-1),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, score double"
    )


def assign_nearest_centroid(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    round_decimals: int = 9,
) -> DataFrame:
    """One Lloyd assignment step: map every corpus vector to its
    nearest centroid by cosine (the E-step of k-means, and the routing
    step of IVF index builds / semantic sharding of a training corpus).

    Returns (id, centroid_id, score) — one row per corpus vector.

    Scale shape: centroids are k rows (k ≪ corpus) → broadcast cross
    join; each executor scores its corpus slice against the in-memory
    centroid table, then a per-vector argmin via one window over the
    k-row group.  No shuffle of the corpus beyond the window's
    partition-local sort (partition key = vector id, k rows each).
    Norms are projected below the join (once per row, not per pair).
    Ties break on the lower centroid id; scores ranked rounded so
    ULP-level float noise can never flip an assignment across engines.
    """
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cn"),
    )
    k = centroids.select(
        F.col(id_col).alias(centroid_id_col),
        F.col(vec_col).alias("_kvec"),
        l2_norm(F.col(vec_col)).alias("_kn"),
    )
    scored = c.crossJoin(F.broadcast(k)).select(
        F.col(id_col),
        F.col(centroid_id_col),
        _rounded(
            _paired_cosine(
                F.col("_cvec"), F.col("_cn"), F.col("_kvec"), F.col("_kn")
            ),
            round_decimals,
        ).alias("score"),
    )
    best = top1_per_group(
        scored,
        partition_by=[id_col],
        order_by=[F.desc("score"), F.asc(centroid_id_col)],
    )
    return best.select(id_col, centroid_id_col, "score")


def _micro_vec(vec):
    # float → integer micros, carried as double: every value and every
    # intermediate below stays an exact integer < 2^53, so double
    # arithmetic is EXACT and bit-identical in any IEEE engine.
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * 1e6).cast("double")
    )


def kmeans_lloyd(
    corpus: DataFrame,
    centroids: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Full Lloyd k-means loop (assign → mean-update, ``iters`` rounds,
    then a final assignment), made CROSS-ENGINE DETERMINISTIC by doing
    every step in integer fixed-point:

    - vectors are quantized once to integer micros (``floor(x·1e6)``);
    - cosine assignment scores round to 6 dp with an id tiebreak (the
      :func:`assign_nearest_centroid` convention);
    - centroid updates are ``floor(sum/count)`` per dimension — sums of
      integers under 2^53, so the mean is exact regardless of partition
      order or summation order (a raw float mean is neither).

    Returns (centroid_id, n_members, centroid_sum): membership counts
    under the final centroids plus an exact integer fingerprint of each
    centroid vector.  Centroids that lose every member drop out, as in
    textbook Lloyd.

    Scale shape per iteration: one broadcast cross join + windowed
    argmin for assignment (centroids are k rows — always the small
    side), then posexplode → (cluster, dim) partial-aggregated sums for
    the update: shuffle volume is O(k × dim), never O(corpus).  The
    corpus micro-vector projection is cut once and reused by all
    ``iters + 1`` assignment passes.
    """
    c = corpus.select(
        F.col(id_col), _micro_vec(F.col(vec_col)).alias("_mv")
    )
    # cut, not persist: every assignment pass reads the projection and
    # so does the returned plan, which leaves no point to unpersist it
    c = cut_lineage(c.withColumn("_n", l2_norm(F.col("_mv"))), eager=False)
    k = centroids.select(
        F.col(id_col).alias(centroid_id_col),
        _micro_vec(F.col(vec_col)).alias("_kv"),
    )

    def _assign(cents: DataFrame) -> DataFrame:
        kk = cents.withColumn("_kn", l2_norm(F.col("_kv")))
        scored = c.crossJoin(F.broadcast(kk)).select(
            F.col(id_col),
            F.col(centroid_id_col),
            F.round(
                _paired_cosine(
                    F.col("_mv"), F.col("_n"), F.col("_kv"), F.col("_kn")
                ),
                6,
            ).alias("_s"),
        )
        return top1_per_group(
            scored,
            partition_by=[id_col],
            order_by=[F.desc("_s"), F.asc(centroid_id_col)],
        ).select(id_col, centroid_id_col)

    for _ in range(iters):
        assigned = _assign(k)
        dims = assigned.join(c, on=id_col).select(
            centroid_id_col,
            F.posexplode(F.col("_mv")).alias("_pos", "_v"),
        )
        upd = dims.groupBy(centroid_id_col, "_pos").agg(
            F.floor(F.sum("_v") / F.count(F.lit(1)))
            .cast("double")
            .alias("_d")
        )
        k = upd.groupBy(centroid_id_col).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_d"))),
                lambda s: s["_d"],
            ).alias("_kv")
        )
        # Cut the lineage after every update: k is k×dim tiny, but its
        # un-checkpointed plan nests ALL prior assignment passes, and
        # downstream both the final-assign broadcast AND the checksum
        # projection execute that plan independently — without this the
        # corpus is re-scanned 2× per iteration beyond the necessary
        # iters+1 assignment passes.
        k = cut_lineage(k, eager=False)
    final = _assign(k)
    members = final.groupBy(centroid_id_col).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    checksum = k.select(
        F.col(centroid_id_col),
        F.aggregate(
            F.col("_kv"), F.lit(0.0), lambda acc, x: acc + x
        )
        .cast("long")
        .alias("centroid_sum"),
    )
    return members.join(checksum, on=centroid_id_col).select(
        centroid_id_col, "n_members", "centroid_sum"
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization (the int8 storage path
    of a 100 TB embedding store: 4× smaller than float32, dot products
    stay SIMD-able).  code_i = FLOOR(x_i / scale · qmax) with
    scale = max|x_i|, qmax = 2^(bits-1) − 1.

    Returns per-vector audit columns rather than the opaque code array:
    (id, scale_micros, q_sum, n_sat, max_err_micros) — quantizer scale,
    checksum of the codes, saturated-code count, and worst absolute
    reconstruction error.  Every output is derived via FLOOR-micros /
    integer sums, so the result is bit-identical across engines (each
    element's IEEE op sequence is fixed; the only reductions are
    integer sums and exact max).

    Scale shape: pure per-row array math — no shuffle, no UDF; runs
    inside the scan projection.  All-zero vectors (scale = 0) are
    excluded (nothing to quantize).
    """
    qmax = (1 << (bits - 1)) - 1
    ve = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(
        F.col(id_col),
        ve.alias("_ve"),
        F.array_max(F.transform(ve, F.abs)).alias("_scale"),
    ).filter(F.col("_scale") > 0)
    code = lambda x: F.floor(x / F.col("_scale") * qmax)  # noqa: E731
    return base.select(
        id_col,
        F.floor(F.col("_scale") * 1e6).cast("long").alias("scale_micros"),
        F.aggregate(
            F.col("_ve"),
            F.lit(0).cast("long"),
            lambda acc, x: acc + code(x),
        ).alias("q_sum"),
        F.size(
            F.filter(F.col("_ve"), lambda x: F.abs(code(x)) == qmax)
        ).alias("n_sat"),
        F.floor(
            F.array_max(
                F.transform(
                    F.col("_ve"),
                    lambda x: F.abs(x - code(x) * F.col("_scale") / qmax),
                )
            )
            * 1e6
        )
        .cast("long")
        .alias("max_err_micros"),
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    centroid_stride: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
) -> None:
    """Materialize an IVF index as TABLES: the inverted lists (every
    corpus vector with its nearest-centroid assignment) written as
    parquet PARTITIONED BY ``centroid_id`` under ``{path}/lists``, and
    the centroid vectors under ``{path}/centroids``.

    This is the production ANN shape at 100 TB: the assignment pass runs
    once per index build (broadcast centroids + windowed argmin), and
    every subsequent probe touches only the probed cells' FILES —
    Hive-partition layout turns cell selection into partition pruning,
    so a 2-of-40-cells probe reads 5% of the index bytes.  Same scoring
    math as :func:`ann_ivf`, so an index probe reproduces it exactly.
    """
    cent = corpus.filter(F.col(id_col) % centroid_stride == 0).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col),
    )
    ccn = cent.select(
        "centroid_id",
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_ccn"),
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    assigned = top1_per_group(
        c.crossJoin(F.broadcast(ccn)).select(
            id_col,
            vec_col,
            "centroid_id",
            _rounded(
                _paired_cosine(
                    F.col(vec_col), F.col("_n"), F.col("_cv"), F.col("_ccn")
                ),
                round_decimals,
            ).alias("_cscore"),
        ),
        partition_by=[id_col],
        order_by=[F.desc("_cscore"), F.asc("centroid_id")],
    ).select(id_col, vec_col, "centroid_id")
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    # Zero-row schema sidecar: a partitioned write of an EMPTY frame
    # (legitimate for an empty partition-pruned corpus slice) leaves no
    # data files, so a later read of {path}/lists has nothing to infer
    # a schema from.  The sidecar always carries the full row schema
    # (centroid_id as a data column); probe_ivf_index reads lists with
    # it explicitly — which also skips footer-based schema inference on
    # large indexes.
    assigned.limit(0).write.mode("overwrite").parquet(f"{path}/_schema")


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_decimals: int = 6,
) -> DataFrame:
    """Probe a persisted IVF index: assign each query to its ``nprobe``
    nearest centroids (broadcast pass over the tiny centroid table),
    then score ONLY the vectors in the probed cells.

    The probes→lists join keys on the Hive partition column, so Spark's
    dynamic partition pruning restricts the lists scan to the probed
    cells' files (plan-asserted in tests) — the reads scale with nprobe,
    not with index size.  Bit-identical results to :func:`ann_ivf` under
    the same parameters (shared oracle).
    """
    list_schema = spark.read.parquet(f"{path}/_schema").schema
    lists = spark.read.schema(list_schema).parquet(f"{path}/lists").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
        F.col("centroid_id").cast("long").alias("centroid_id"),
    )
    cents = spark.read.parquet(f"{path}/centroids").select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_ccn"),
    )
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    probes = topk_per_group(
        q.crossJoin(F.broadcast(cents)).select(
            query_id_col,
            "_qv",
            "_qn",
            "centroid_id",
            _rounded(
                _paired_cosine(
                    F.col("_qv"), F.col("_qn"), F.col("_cv"), F.col("_ccn")
                ),
                round_decimals,
            ).alias("_cscore"),
        ),
        partition_by=[query_id_col],
        order_by=[F.desc("_cscore"), F.asc("centroid_id")],
        k=nprobe,
    ).select(query_id_col, "_qv", "_qn", "centroid_id")
    scored = lists.join(F.broadcast(probes), on="centroid_id").select(
        F.col(query_id_col),
        F.col("neighbor_id"),
        _rounded(
            _paired_cosine(
                F.col("_v"), F.col("_n"), F.col("_qv"), F.col("_qn")
            ),
            round_decimals,
        ).alias("score"),
    )
    return topk_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.desc("score"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(query_id_col, "neighbor_id", "score", "rank")


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 5,
    rrf_k: int = 60,
    query_id_col: str = "query_id",
    id_col: str = "neighbor_id",
    rank_col: str = "rank",
    scale: int = 1000000,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval results — the
    standard hybrid-search combiner (e.g. dense ANN + keyword BM25, or
    two ANN paths with different failure modes): each list contributes
    ``scale div (rrf_k + rank)`` to a candidate's fused score, so items
    ranked well by ANY list surface without score calibration across
    lists.  Integer fixed-point end-to-end — fusion is engine-exact.

    Scale shape: union of the (already small) top-k lists → one
    hash-agg on (query, item) → per-query top-k window.  Cost is
    O(queries × k × lists), independent of corpus size.
    """
    from functools import reduce

    tagged = [
        df.select(
            F.col(query_id_col),
            F.col(id_col),
            F.col(rank_col).alias("_r"),
        )
        for df in ranked
    ]
    union = reduce(lambda a, b: a.unionAll(b), tagged)
    scored = union.groupBy(query_id_col, id_col).agg(
        F.sum(F.expr(f"{scale} div ({rrf_k} + _r)")).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    return topk_per_group(
        scored,
        partition_by=[query_id_col],
        order_by=[F.desc("rrf_score"), F.asc(id_col)],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(query_id_col, id_col, "rrf_score", "n_lists", "rank")


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
    max_cluster_size: int | None = 512,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): route
    every vector to its nearest centroid, then prune within each cluster
    any vector whose cosine similarity to a LOWER-ID cluster-mate reaches
    ``threshold``.  The one-pass greedy keep rule (drop iff similar to
    any lower id, whether or not that lower id itself survives) is the
    standard SemDeDup policy — deterministic, order-free, and exactly
    expressible as an EXISTS, so it verifies against a SQL oracle.

    Returns (vec_id, centroid_id, keep) — one row per input vector.

    Scale shape: the clustering bounds the quadratic term.  Centroids
    (k rows) broadcast for the assignment pass; candidate pairs come
    from a self-equi-join on ``centroid_id``, so the all-pairs product
    never materializes — per-cluster cost is |cluster|², and k is grown
    with the corpus to keep clusters bounded (SemDeDup uses ~100k
    clusters at billion-doc scale).  The assignment projection feeds
    THREE plan branches (both self-join sides and the returned verdict
    spine), so it is cut from its lineage with a LAZY ``cut_lineage``:
    nothing materializes at call time, the first caller action runs
    the assignment pass exactly once, and no cache outlives its
    consumers (the r4→r5 leak is not back).

    ``max_cluster_size`` (default 512, round 11) bounds the skew risk
    the clustering alone can't: ONE degenerate centroid cell (think a
    billion boilerplate near-identical pages landing in the same
    cluster at 100 TB) makes the within-cluster prune quadratic in
    that cell.  The cap restricts the LOWER-ID side of the prune join
    to each cluster's ``max_cluster_size`` lowest-id members — per-
    cluster cost becomes |cluster|·cap, and the verdict stays total
    (every vector is still judged; an over-cap vector is compared
    against the cluster's first ``cap`` members, the rows the greedy
    keep rule favors as survivors).  Clusters at or under the cap —
    every driver-run oracle scale — are bit-identical to the exact
    ``None`` form.
    """
    assigned = assign_nearest_centroid(
        emb, centroids, id_col=id_col, vec_col=vec_col,
        round_decimals=round_decimals,
    ).select(id_col, "centroid_id")
    b = assigned.join(
        emb.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            l2_norm(F.col(vec_col)).alias("_n"),
        ),
        on=id_col,
    ).transform(cut_lineage, eager=False)
    lower = b
    if max_cluster_size is not None:
        w = Window.partitionBy("centroid_id").orderBy(F.asc(id_col))
        lower = (
            b.withColumn("_cr", F.row_number().over(w))
            .filter(F.col("_cr") <= max_cluster_size)
            .drop("_cr")
        )
    left, right = lower.alias("l"), b.alias("r")
    score = _rounded(
        _paired_cosine(
            F.col("l._v"), F.col("l._n"), F.col("r._v"), F.col("r._n")
        ),
        round_decimals,
    )
    dropped = (
        left.join(
            right,
            on=[
                F.col("l.centroid_id") == F.col("r.centroid_id"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .filter(score >= threshold)
        .select(F.col(f"r.{id_col}").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        b.select(id_col, "centroid_id")
        .join(dropped, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("keep"),
        )
    )


def top_principal_direction(
    emb: DataFrame,
    iters: int = 3,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Distributed power iteration for the dominant principal direction
    of the (uncentered) Gram matrix — the one-vector core of PCA
    whitening / spectral outlier detection — made CROSS-ENGINE
    BIT-EXACT by keeping every step in integers:

    - vectors quantize once to integer micros (the kmeans_lloyd
      convention);
    - each round computes w = Σ_x x·(x·v) with per-row dots exact in
      int64 and the per-dimension sums accumulated in DECIMAL(38,0);
    - renormalization is ``v' = w·1e6 div max|w|`` — integer division
      by the max component instead of the L2 norm (any positive
      scaling preserves the power-iteration fixed point, and max-
      normalization never leaves the integers, where an L2 norm
      would drag >2^53 values through double division).

    Returns (dim, v_fp): the direction in fixed-point micros,
    max-component = ±1e6.

    Scale shape per round: one map-side dot pass over the corpus →
    posexplode → partial-agged per-dimension sums (shuffle carries
    O(tasks × dims) rows) → a dims-row max broadcast back.  The corpus
    micro-projection is persisted once across all rounds.
    """
    c = emb.select(_micro_vec(F.col(vec_col)).alias("_mv")).persist()
    v = [1_000_000] * dim
    for _ in range(iters):
        varr = F.array(*[F.lit(float(x)) for x in v])
        dot = F.aggregate(
            F.zip_with(F.col("_mv"), varr, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dims = c.select(
            dot.alias("_dot"),
            F.posexplode(F.col("_mv")).alias("_d", "_x"),
        )
        w = dims.groupBy("_d").agg(
            F.sum(
                F.expr("CAST(_x AS DECIMAL(38,0)) * CAST(_dot AS DECIMAL(38,0))")
            ).alias("_w")
        )
        rows = sorted(
            (r["_d"], int(r["_w"])) for r in w.collect()
        )
        if not rows:
            # Empty slice: the Gram matrix is undefined — mirror the
            # oracle's unrolled CTEs, which yield no rows.
            c.unpersist()
            return emb.sparkSession.createDataFrame(
                [], "dim int, v_fp long"
            )
        mx = max(abs(val) for _, val in rows) or 1
        # truncate-toward-zero division: SQL's `div`//`//` semantics
        # (Python's // floors, which differs on negatives)
        v = [
            (abs(val) * 1_000_000 // mx) * (1 if val >= 0 else -1)
            for _, val in rows
        ]
    c.unpersist()
    out = [(d, int(val)) for d, val in enumerate(v)]
    spark = emb.sparkSession
    return spark.createDataFrame(out, "dim int, v_fp long")


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    n_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_id_col: str = "code_id",
) -> DataFrame:
    """Product-quantization encoding — the compression half of IVF-PQ,
    the layout billion-vector ANN actually ships (a 64-dim float
    vector becomes ``n_subspaces`` one-byte codes, 256 B → 8 B here):
    split each vector into ``n_subspaces`` contiguous subvectors and
    replace each with the id of its nearest codebook subvector by
    squared L2.

    ``codebook`` is (code_id, vector): a strided corpus sample for the
    engine-reproducible form (the ann_ivf convention), or k-means
    centroids at real scale — the plumbing is identical.

    Returns (id, codes, err_micros2): ``codes`` scalar-encoded as a
    comma-joined string in subspace order, ``err_micros2`` the total
    squared quantization error in integer micros² — the audit signal
    that decides codebook size.

    Engine-exact: subvectors quantize to integer micros carried as
    doubles (every intermediate an exact integer ≤ ~3·10¹³ < 2⁵³), and
    the per-subspace argmin is a ``min(struct(dist, code))`` AGGREGATE
    (partial-combining, lowest-code tiebreak) — not a window.

    Scale shape: corpus explodes ×n_subspaces, joins the broadcast
    exploded codebook on the subspace key, partial-agg argmin, then
    one groupBy(id) fold back — two shuffles keyed on (id, sub)/(id),
    both carrying partially-aggregated rows; the codebook (k × m
    subvectors) broadcasts whole.
    """
    if dim % n_subspaces:
        raise ValueError("dim must divide evenly into subspaces")
    sub = dim // n_subspaces

    def sub_micro(vec, j):
        return F.transform(
            F.sequence(F.lit(0), F.lit(sub - 1)),
            lambda i: F.floor(
                F.element_at(vec, (j * sub + i + 1).cast("int")).cast(
                    "double"
                )
                * 1e6
            ).cast("double"),
        )

    def exploded(df, idc, out_id):
        return df.select(
            F.col(idc).alias(out_id),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                    lambda j: sub_micro(F.col(vec_col), j),
                )
            ).alias("sub", "_sv"),
        )

    corp = exploded(corpus, id_col, "_id")
    cb = exploded(codebook, code_id_col, "_code").select(
        "_code", "sub", F.col("_sv").alias("_cv")
    )
    d = F.aggregate(
        F.zip_with(F.col("_sv"), F.col("_cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = (
        corp.join(F.broadcast(cb), on="sub")
        .select("_id", "sub", d.alias("_d"), F.col("_code"))
        .groupBy("_id", "sub")
        .agg(F.min(F.struct(F.col("_d"), F.col("_code"))).alias("_m"))
    )
    return (
        best.groupBy("_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("sub", F.col("_m._code")))
                    ),
                    lambda s: s["_code"].cast("string"),
                ),
            ).alias("codes"),
            F.sum(F.col("_m._d")).cast("long").alias("err_micros2"),
        )
        .select(F.col("_id").alias(id_col), "codes", "err_micros2")
    )


def pq_search(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    n_subspaces: int = 8,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    code_id_col: str = "code_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus — the
    query half of IVF-PQ (``pq_encode`` is the compression half): the
    query stays un-quantized; each corpus vector's distance is the sum
    over subspaces of d²(query subvector, codebook[code]) looked up
    from a per-query distance table, so the scan touches only the
    byte codes, never the original vectors.

    Returns (query_id, neighbor_id, adist_micros2, rank): ``rank`` by
    ascending ADC distance (neighbor id tiebreak), distance in exact
    integer micros² — engine-exact because subvectors quantize to
    integer micros exactly as in ``pq_encode``.

    Scale shape: the distance LUT is queries × n_subspaces × codebook
    rows (q·m·k_codes — tiny) built by joining the exploded query and
    codebook sides on the subspace key and BROADCAST to the corpus
    scan; the corpus side explodes its code string ×n_subspaces, maps
    through the LUT, then one partial-agg shuffle on (query, id) folds
    the per-subspace terms; top-k is a per-query WindowGroupLimit.
    The original vector column is never read — at 100 TB the scan IO
    is the code bytes (8 B/vector here vs 256 B raw).
    """
    if dim % n_subspaces:
        raise ValueError("dim must divide evenly into subspaces")
    sub = dim // n_subspaces

    def sub_micro(vec, j):
        return F.transform(
            F.sequence(F.lit(0), F.lit(sub - 1)),
            lambda i: F.floor(
                F.element_at(vec, (j * sub + i + 1).cast("int")).cast(
                    "double"
                )
                * 1e6
            ).cast("double"),
        )

    def exploded(df, idc, out_id):
        return df.select(
            F.col(idc).alias(out_id),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                    lambda j: sub_micro(F.col(vec_col), j),
                )
            ).alias("sub", "_sv"),
        )

    qx = exploded(queries, id_col, query_id_col)
    cb = exploded(codebook, code_id_col, "_code").select(
        "_code", "sub", F.col("_sv").alias("_cv")
    )
    d = F.aggregate(
        F.zip_with(F.col("_sv"), F.col("_cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    lut = qx.join(cb, on="sub").select(
        query_id_col, "sub", "_code", d.alias("_d")
    )
    corp = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(F.split(F.col(codes_col), ",")).alias("sub", "_c"),
    ).select(
        "neighbor_id", "sub", F.col("_c").cast("long").alias("_code")
    )
    adist = (
        corp.join(F.broadcast(lut), on=["sub", "_code"])
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.sum("_d").cast("long").alias("adist_micros2"))
    )
    ranked = topk_per_group(
        adist,
        partition_by=[query_id_col],
        order_by=[F.asc("adist_micros2"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    )
    return ranked.select(
        query_id_col, "neighbor_id", "adist_micros2", "rank"
    )


def ivf_pq_search(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    centroid_stride: int = 50,
    nprobe: int = 2,
    n_subspaces: int = 8,
    dim: int = 64,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_id_col: str = "code_id",
    query_id_col: str = "query_id",
    adaptive_cells: bool = True,
) -> DataFrame:
    """End-to-end IVF-PQ — the layout billion-vector ANN ships,
    composed from both halves already in this module: corpus vectors
    are routed to centroid cells (IVF) AND compressed to
    ``n_subspaces`` one-byte codes (PQ); a query probes its ``nprobe``
    nearest cells and ranks ONLY those cells' members by
    asymmetric-distance (ADC) lookups against its private distance
    table — so query cost scales with nprobe/|cells| of the corpus,
    and what it reads per candidate is 8 B of codes, not 256 B of
    floats.

    One metric everywhere: squared L2 over integer-micro quantized
    vectors (cell assignment, probe ranking, ADC) — every distance an
    exact integer, no rounding step anywhere.  Centroids are the
    ``centroid_stride`` strided sample (ann_ivf's engine-reproducible
    convention; k-means centroids slot in unchanged).

    Returns (query_id, neighbor_id, adist_micros2, rank) — top-``k``
    per query among probed candidates by ADC distance (an
    approximation of exact L2 bounded by the quantization error
    ``pq_encode`` reports).

    Scale shape: assignment argmin and PQ encode are the INDEX BUILD —
    at 100 TB both are the write-once tables ``ann_ivf_indexed``
    persists (codes partitioned by cell; DPP then prunes the probe
    scan).  The query side joins broadcast probes on the cell key,
    explodes candidate codes, maps through the broadcast LUT, and
    partial-aggs (query, id) — no full-corpus scan, no full-width
    vectors.

    Cell-count scale guard (default on, round 11): a FIXED stride
    makes the centroid count grow linearly with the corpus, so the
    assignment argmin is O(n²/stride) — the measured 6.7× sf0.1→sf1
    growth.  The effective stride is ``max(centroid_stride,
    isqrt(n))``, the classic IVF balance point (≈√n cells): assignment
    is O(n^1.5) and probe depth per query is O(√n).  The rule is pure
    integer arithmetic on the corpus count, so an oracle reproduces it
    exactly at ANY scale; below n = centroid_stride² (all driver-run
    oracle scales) it is a no-op and results are bit-identical to the
    fixed-stride form.  One extra bounded driver action (the count) at
    plan build.  Pass ``adaptive_cells=False`` for the raw fixed
    stride.
    """
    if dim % n_subspaces:
        raise ValueError("dim must divide evenly into subspaces")

    def micros(vec):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.floor(
                F.element_at(vec, (i + 1).cast("int")).cast("double") * 1e6
            ).cast("double"),
        )

    def l2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    stride_eff = centroid_stride
    if adaptive_cells:
        stride_eff = max(centroid_stride, math.isqrt(corpus.count()))
    cent = corpus.filter(F.col(id_col) % stride_eff == 0).select(
        F.col(id_col).alias("_cid"), micros(F.col(vec_col)).alias("_cm")
    )
    corpmv = corpus.select(
        F.col(id_col).alias("_id"), micros(F.col(vec_col)).alias("_vm")
    )
    assigned = (
        corpmv.join(F.broadcast(cent))
        .select(
            "_id",
            F.struct(
                l2(F.col("_vm"), F.col("_cm")).alias("_d"),
                F.col("_cid").alias("_c"),
            ).alias("_s"),
        )
        .groupBy("_id")
        .agg(F.min("_s").alias("_m"))
        .select("_id", F.col("_m._c").alias("_cell"))
    )
    qmv = queries.select(
        F.col(id_col).alias(query_id_col),
        micros(F.col(vec_col)).alias("_qm"),
    )
    probes = topk_per_group(
        qmv.join(F.broadcast(cent)).select(
            query_id_col,
            F.col("_cid").alias("_cell"),
            l2(F.col("_qm"), F.col("_cm")).alias("_d"),
        ),
        partition_by=[query_id_col],
        order_by=[F.asc("_d"), F.asc("_cell")],
        k=nprobe,
    ).select(query_id_col, "_cell")

    codes = pq_encode(
        corpus,
        codebook,
        n_subspaces=n_subspaces,
        dim=dim,
        id_col=id_col,
        code_id_col=code_id_col,
    )
    # per-query subspace distance LUT, same construction as pq_search
    sub = dim // n_subspaces

    def sub_micro(vec, j):
        return F.transform(
            F.sequence(F.lit(0), F.lit(sub - 1)),
            lambda i: F.floor(
                F.element_at(vec, (j * sub + i + 1).cast("int")).cast(
                    "double"
                )
                * 1e6
            ).cast("double"),
        )

    def exploded(df, idc, out_id):
        return df.select(
            F.col(idc).alias(out_id),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                    lambda j: sub_micro(F.col(vec_col), j),
                )
            ).alias("sub", "_sv"),
        )

    qx = exploded(queries, id_col, query_id_col)
    cbx = exploded(codebook, code_id_col, "_code").select(
        "_code", "sub", F.col("_sv").alias("_cv")
    )
    lut = qx.join(cbx, on="sub").select(
        query_id_col,
        "sub",
        "_code",
        F.aggregate(
            F.zip_with(
                F.col("_sv"), F.col("_cv"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_d"),
    )
    cand = (
        codes.select(F.col(id_col).alias("_id"), "codes")
        .join(assigned, on="_id")
        .join(F.broadcast(probes), on="_cell")
        .select(query_id_col, F.col("_id").alias("neighbor_id"), "codes")
    )
    adist = (
        cand.select(
            query_id_col,
            "neighbor_id",
            F.posexplode(F.split(F.col("codes"), ",")).alias("sub", "_c"),
        )
        .select(
            query_id_col,
            "neighbor_id",
            "sub",
            F.col("_c").cast("long").alias("_code"),
        )
        .join(F.broadcast(lut), on=[query_id_col, "sub", "_code"])
        .groupBy(query_id_col, "neighbor_id")
        .agg(F.sum("_d").cast("long").alias("adist_micros2"))
    )
    return topk_per_group(
        adist,
        partition_by=[query_id_col],
        order_by=[F.asc("adist_micros2"), F.asc("neighbor_id")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(query_id_col, "neighbor_id", "adist_micros2", "rank")


def margin_mine(
    left: DataFrame,
    right: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin_threshold_permille: int = 1050,
) -> DataFrame:
    """Margin-based candidate mining between two embedding sets — the
    ratio-margin criterion of large-scale bitext mining (Artetxe &
    Schwenk 2019; the CCMatrix recipe): a pair (a, b) is a mining hit
    not when its cosine is high in absolute terms, but when it stands
    OUT against each side's own neighborhood:

        margin(a, b) = cos(a, b) / ((Σ topk(a) + Σ topk(b)) / 2k)

    Hubs — vectors close to everything — have fat neighborhood sums
    and never clear the ratio, which is exactly why the margin beats a
    raw cosine threshold on real embedding spaces.

    Integer-exact: vectors quantize to micros (the kmeans_lloyd
    convention), per-pair cosines round to e6 integers, neighborhood
    sums are integer sums, and

        margin_permille = 1000 · 2k · cos_e6 div (Σ_a + Σ_b)

    so both engines agree bit-for-bit.  Returns, per left vector, its
    best right candidate: (src_id, dst_id, cos_e6, margin_permille,
    accepted = margin > threshold).

    Scale shape: ONE scored table (left ⨯ broadcast right, each side's
    norm projected below the join) feeds the best-pair window AND both
    neighborhood sums — rank-k selection uses (score, id) tiebreaks so
    every aggregate is deterministic.  Brute-force scoring is the
    exact baseline; at corpus scale :func:`margin_mine_blocked` routes
    candidates through adaptive multi-table LSH and feeds survivors
    through the same margin arithmetic (this function's scored table
    IS its ``n_planes = 0`` degenerate case)."""
    lv = left.select(
        F.col(id_col).alias("_lid"), _micro_vec(F.col(vec_col)).alias("_lv")
    ).withColumn("_ln", l2_norm(F.col("_lv")))
    rv = right.select(
        F.col(id_col).alias("_rid"), _micro_vec(F.col(vec_col)).alias("_rv")
    ).withColumn("_rn", l2_norm(F.col("_rv")))
    scored = (
        lv.crossJoin(F.broadcast(rv))
        .select(
            "_lid",
            "_rid",
            F.round(
                _paired_cosine(
                    F.col("_lv"), F.col("_ln"), F.col("_rv"), F.col("_rn")
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("_c"),
        )
        .filter(F.col("_c").isNotNull())
        # one scored table, three consumers (best pair + two
        # neighborhood sums): cut the lineage so the cross join and
        # cosine arithmetic run once
        .transform(cut_lineage, eager=False)
    )
    return _margin_from_scored(scored, k, margin_threshold_permille)


def _margin_from_scored(
    scored: DataFrame, k: int, margin_threshold_permille: int
) -> DataFrame:
    """Shared margin arithmetic over a (_lid, _rid, _c) candidate
    table: per-side top-k neighborhood sums, best pair per left id,
    integer permille ratio margin.  Exact over the candidates it is
    given — brute candidates (``margin_mine``) make it the exact
    baseline, blocked candidates (``margin_mine_blocked``) the
    approximate scale path."""
    wl = Window.partitionBy("_lid").orderBy(F.desc("_c"), F.asc("_rid"))
    wr = Window.partitionBy("_rid").orderBy(F.desc("_c"), F.asc("_lid"))
    lsum = (
        scored.withColumn("_rk", F.row_number().over(wl))
        .filter(F.col("_rk") <= k)
        .groupBy("_lid")
        .agg(F.sum("_c").alias("_suma"))
    )
    rsum = (
        scored.withColumn("_rk", F.row_number().over(wr))
        .filter(F.col("_rk") <= k)
        .groupBy("_rid")
        .agg(F.sum("_c").alias("_sumb"))
    )
    best = (
        scored.withColumn("_rk", F.row_number().over(wl))
        .filter(F.col("_rk") == 1)
        .select("_lid", "_rid", "_c")
    )
    return (
        best.join(lsum, on="_lid")
        .join(rsum, on="_rid")
        .select(
            F.col("_lid").alias("src_id"),
            F.col("_rid").alias("dst_id"),
            F.col("_c").alias("cos_e6"),
            F.expr(f"1000 * {2 * k} * _c div (_suma + _sumb)").alias(
                "margin_permille"
            ),
        )
        .select(
            "src_id",
            "dst_id",
            "cos_e6",
            "margin_permille",
            (F.col("margin_permille") > margin_threshold_permille).alias(
                "accepted"
            ),
        )
    )


def maxsim_retrieval(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    tok_col: str = "tok_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Late-interaction (ColBERT-style MaxSim, Khattab & Zaharia 2020)
    multi-vector retrieval: documents and queries are SETS of token
    vectors, and ``score(q, d) = Σ_{t∈q} max_{u∈d} cos(t, u)`` — each
    query token finds its best-matching document token, so partial
    topical matches score where single-vector pooling averages them
    away.

    Integer-exact: token cosines round to e6 longs (the margin_mine
    convention) before the max/sum, so scores are exact integer sums
    and rank ties break on doc id deterministically.

    Returns top-``k`` per query: (query_id, doc_id, maxsim_e6, rank).

    Scale shape: corpus token vectors never shuffle — the bounded
    query token set broadcasts onto the corpus scan; the per-(query
    token, doc) max and per-(query, doc) sum are partial-agged
    hash aggregates; the top-k is a rank-limit window per query.  At
    billion-token corpora, block candidates first with the LSH/IVF
    operators and feed survivors through the same MaxSim arithmetic."""
    cv = corpus.select(
        F.col(id_col).alias("_did"),
        F.col(tok_col).alias("_dtok"),
        _micro_vec(F.col(vec_col)).alias("_dv"),
    ).withColumn("_dn", l2_norm(F.col("_dv")))
    qv = queries.select(
        F.col(id_col).alias("_qid"),
        F.col(tok_col).alias("_qtok"),
        _micro_vec(F.col(vec_col)).alias("_qv"),
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    scored = cv.crossJoin(F.broadcast(qv)).select(
        "_qid",
        "_qtok",
        "_did",
        F.round(
            _paired_cosine(
                F.col("_dv"), F.col("_dn"), F.col("_qv"), F.col("_qn")
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("_c"),
    ).filter(F.col("_c").isNotNull())
    per_tok = scored.groupBy("_qid", "_qtok", "_did").agg(
        F.max("_c").alias("_m")
    )
    per_doc = per_tok.groupBy("_qid", "_did").agg(
        F.sum("_m").alias("maxsim_e6")
    )
    return topk_per_group(
        per_doc,
        partition_by=["_qid"],
        order_by=[F.desc("maxsim_e6"), F.asc("_did")],
        k=k,
        rank_col="rank",
        keep_rank=True,
    ).select(
        F.col("_qid").alias("query_id"),
        F.col("_did").alias("doc_id"),
        "maxsim_e6",
        "rank",
    )


def facility_location(
    df: DataFrame,
    k: int = 5,
    n_candidates: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stochastic-greedy facility-location selection (Mirzasoleiman et
    al. 2015 over the Nemhauser greedy): pick k vectors maximizing the
    submodular coverage objective ``F(S) = Σ_x max_{c∈S} sim(x, c)`` —
    the "represent every region well" criterion of LLM data curation,
    where :func:`kcenter_coreset` covers the SPREAD (minimax) this
    covers the MASS (sum of best similarities).

    Per round the candidate pool is a deterministic hash-ordered
    sample of ``n_candidates`` unchosen vectors (the stochastic-greedy
    trick: (1−1/e−ε) guarantee at 1/k of full-greedy cost, with the
    house no-RNG discipline — round-salted md5 order).  Gains for ALL
    candidates of a round are computed in ONE corpus pass (one
    aggregate with ``n_candidates`` clamped-dot sums).

    Integer-exact: micro-vector dots are exact integer-valued doubles
    (≤ 64·1e12 < 2^53); per-row similarity is ``max(0, floor(dot /
    1e6))`` — a LONG, so the objective SUM stays exact int64 at any
    corpus size (a raw-dot double sum loses exactness past ~100
    rows).  Because EVERY partial sum inside a dot is an exact integer
    < 2^53, a BLAS matmul computes the identical dots in any
    accumulation order — which is what lets the gains pass run as one
    Arrow-batched matmul instead of n_candidates interpreted
    ``aggregate(zip_with(...))`` expressions (the round-12 change: the
    old expression form spent ~90% of its wall on Catalyst
    interpretation at 2k vectors, and the interpretation cost scales
    with corpus rows).  Argmax ties break to the smaller id.  The
    oracle unrolls all k rounds (the kcenter_coreset convention).

    Returns (round, vec_id, objective) — the selected center per
    round and the objective AFTER adding it.

    Scale shape per round: one TakeOrdered candidate sample + ONE
    corpus pass (``mapInPandas``: per batch, sims = max(0,
    floor(V·Candᵀ/1e6)) and the running best from the ≤k chosen
    centers recomputed the same way, then per-batch partial gain sums
    — int64, batch-count rows collected) — k·2 bounded actions, no
    per-round checkpoint chain (recomputing ≤k chosen dots per row is
    cheaper than writing a corpus-wide _best column every round)."""
    import numpy as np
    import pandas as pd

    if k < 1:
        raise ValueError("k must be >= 1")
    mv = df.select(
        F.col(id_col).alias("_id"), _micro_vec(F.col(vec_col)).alias("_v")
    ).transform(cut_lineage, eager=False)

    chosen: list[int] = []
    chosen_vecs: list[list[float]] = []
    out: list[tuple] = []
    for r in range(k):
        pool = mv.filter(~F.col("_id").isin(chosen)) if chosen else mv
        cand = (
            pool.select(
                "_id",
                "_v",
                md5_hash64(
                    F.concat(F.lit(f"fl:{r}:"), F.col("_id").cast("string"))
                ).alias("_h"),
            )
            .orderBy("_h", "_id")
            .limit(n_candidates)
            .collect()
        )
        if not cand:
            break
        cand_mat = np.array([list(c["_v"]) for c in cand], dtype=np.float64)
        ch_mat = (
            np.array(chosen_vecs, dtype=np.float64) if chosen_vecs else None
        )

        def partial_gains(batches, _cand=cand_mat, _ch=ch_mat):
            tot = np.zeros(len(_cand), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.stack(pdf["_v"].to_numpy())
                # identical IEEE ops to the expression form: exact
                # integer dot (< 2^53) → double divide → floor → clamp
                sims = np.maximum(
                    np.floor(v @ _cand.T / 1e6), 0.0
                ).astype(np.int64)
                if _ch is not None:
                    best = np.maximum(
                        np.floor(v @ _ch.T / 1e6), 0.0
                    ).max(axis=1).astype(np.int64)
                    sims = np.maximum(sims, best[:, None])
                tot += sims.sum(axis=0)
            yield pd.DataFrame({"g": [tot.tolist()]})

        parts = mv.mapInPandas(partial_gains, "g array<long>").collect()
        gains = np.sum(
            [p["g"] for p in parts], axis=0, dtype=np.int64
        )
        best_j = max(
            range(len(cand)),
            key=lambda j: (int(gains[j]), -cand[j]["_id"]),
        )
        c = cand[best_j]
        chosen.append(int(c["_id"]))
        chosen_vecs.append(list(c["_v"]))
        out.append((r, int(c["_id"]), int(gains[best_j])))
    return df.sparkSession.createDataFrame(
        out, "round int, vec_id long, objective long"
    )


def margin_mine_blocked(
    left: DataFrame,
    right: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    margin_threshold_permille: int = 1050,
    n_tables: int = 8,
    target_bucket: int = 512,
    dim: int = 64,
) -> DataFrame:
    """:func:`margin_mine` behind adaptive multi-table LSH blocking —
    the corpus-scale path of the Artetxe & Schwenk ratio-margin miner.

    The hyperplane count ADAPTS to the corpus: ``n_planes =
    ceil(log2(n_right / target_bucket))`` (capped at 16), so per-table
    buckets hold ~``target_bucket`` vectors regardless of corpus size
    and per-query candidate work stays ~``n_tables · target_bucket``
    — CONSTANT in corpus size where the brute baseline is linear.  At
    or below ``target_bucket`` vectors the plane count is 0 (one
    bucket = every pair scored), which makes this function bit-exact
    to :func:`margin_mine` at oracle-gate scale — the blocking is
    provably complete there, and the recall/cost dial only engages
    once the corpus outgrows a single bucket.  Candidate survivors
    feed the SAME integer margin arithmetic
    (:func:`_margin_from_scored`), so accepted pairs are exact over
    whatever candidate set the blocking admits.

    Scale shape: per-table buckets are map-side folds over the vector
    (posexploded to (table, bucket)); candidates come from ONE
    equi-join on (table, bucket) with the bounded query side
    broadcast; duplicate multi-table hits collapse in the same
    per-pair aggregate that carries the cosine.  One bounded driver
    action (the right-side count that sizes the plane count)."""
    n_right = right.count()
    n_planes = 0
    while n_planes < 16 and (n_right >> n_planes) > target_bucket:
        n_planes += 1
    if n_planes < 3:
        # below 3 planes the per-table buckets are halves/quarters of
        # the corpus: the candidate union is ~the full cross product,
        # so the (lid, rid) dedup shuffle costs more than the brute
        # cross join it would replace — stay on the exact path until
        # the blocking can actually prune
        n_planes = 0
    lv = left.select(
        F.col(id_col).alias("_lid"), _micro_vec(F.col(vec_col)).alias("_lv")
    ).withColumn("_ln", l2_norm(F.col("_lv")))
    rv = right.select(
        F.col(id_col).alias("_rid"), _micro_vec(F.col(vec_col)).alias("_rv")
    ).withColumn("_rn", l2_norm(F.col("_rv")))
    cos = (
        F.round(
            _paired_cosine(
                F.col("_lv"), F.col("_ln"), F.col("_rv"), F.col("_rn")
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("_c")
    )
    if n_planes == 0:
        cand = lv.crossJoin(F.broadcast(rv)).select("_lid", "_rid", cos)
    else:
        tables = [
            _hyperplanes(dim, n_planes, seed=101 + t)
            for t in range(n_tables)
        ]

        def bucketed(df: DataFrame) -> DataFrame:
            vc = "_lv" if "_lv" in df.columns else "_rv"
            return df.select(
                "*",
                F.posexplode(
                    F.array(
                        *[lsh_bucket(F.col(vc), p) for p in tables]
                    )
                ).alias("_t", "_bucket"),
            )

        cand = (
            bucketed(rv)
            .join(F.broadcast(bucketed(lv)), on=["_t", "_bucket"])
            .select("_lid", "_rid", cos)
            .groupBy("_lid", "_rid")
            .agg(F.max("_c").alias("_c"))
        )
    scored = cut_lineage(cand.filter(F.col("_c").isNotNull()), eager=False)
    return _margin_from_scored(scored, k, margin_threshold_permille)


def kcenter_coreset(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985 — the 2-approx
    farthest-point heuristic): pick the minimum-id vector, then k−1
    times the vector FARTHEST from everything selected so far.  The
    data-selection workhorse for "cover the embedding space with a
    tiny representative set" (active learning seeds, eval-set
    construction, diversity-balanced subsampling) — where similarity
    dedup removes redundancy, the coreset keeps spread.

    Integer-exact: vectors quantize to micros; distances are exact
    integer-valued doubles (squared L2 of micro vectors, < 2^53 for
    64-dim micro embeddings); argmax ties break on id — every round is
    bit-reproducible and the DuckDB oracle unrolls the same k rounds.

    Returns (round, vec_id, radius_sq) — the selected center per round
    and the coverage radius BEFORE adding it (max over the corpus of
    min-distance to the previous centers; round 0 reports 0).

    Scale shape per round: the running min-distance is a per-row
    column updated by ONE broadcast of the newly selected center
    (O(dim) work per row), the argmax is a 1-row aggregate, and the
    min-dist projection is lazily checkpointed so round r never
    replays rounds 0..r−1.  Total: k corpus passes, k tiny collects —
    the canonical distributed farthest-point shape."""
    if k < 1:
        raise ValueError("k must be >= 1")
    mv = df.select(
        F.col(id_col).alias("_id"), _micro_vec(F.col(vec_col)).alias("_v")
    ).transform(cut_lineage, eager=False)

    def dist_to(center_vec):
        arr = F.array(*[F.lit(float(x)) for x in center_vec])
        return F.aggregate(
            F.zip_with(F.col("_v"), arr, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    seed = mv.orderBy("_id").limit(1).collect()
    if not seed:
        # Empty slice: no vector can seed the farthest-point walk —
        # return the empty selection (matches the oracle's no-rows
        # output on an empty corpus).
        return df.sparkSession.createDataFrame(
            [], "round int, vec_id long, radius_sq long"
        )
    first = seed[0]
    selected = [(0, first["_id"], 0)]
    cur = mv.withColumn("_d", dist_to(first["_v"]))
    for r in range(1, k):
        far = (
            cur.orderBy(F.desc("_d"), F.asc("_id")).limit(1).collect()[0]
        )
        selected.append((r, far["_id"], int(far["_d"])))
        if r < k - 1:
            cur = cur.withColumn(
                "_nd", dist_to(far["_v"])
            ).select(
                "_id",
                "_v",
                F.least(F.col("_d"), F.col("_nd")).alias("_d"),
            ).transform(cut_lineage, eager=False)
    spark = df.sparkSession
    return spark.createDataFrame(
        selected, "round int, vec_id long, radius_sq long"
    )


def centroid_novelty(
    vecs: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1 << 20,
) -> DataFrame:
    """Embedding novelty vs the GROUP centroid: each vector's cosine
    to the mean of its own group — the per-source outlier-document
    detector of curation pipelines (low cosine = off-topic for its
    source/cluster; rank ascending and audit the tail).

    Exactness: coordinates quantize at ``scale`` (a power of two —
    float × 2^k is IEEE-exact), so the vec·centroid-sum dot product
    and both squared norms are EXACT integer sums (the centroid's 1/n
    cancels in cosine, so the un-divided per-dim SUMS stand in for
    the mean — no rational centroid anywhere); the single final
    ``num / √(|v|²·|Σ|²)`` is the only double, e6-floored in the same
    expression shape on any engine.

    Scale shape: ONE posexplode to (id, group, dim, q) — dim count is
    BOUNDED, so this is corpus×dims rows touched once — a per-(group,
    dim) partial-agged centroid-sum table (groups×dims rows, broadcast
    back), per-vector dot/norm aggregation, and a broadcast join of
    the groups-cardinality |Σ|² rollup.  No pairwise anything.
    """
    if scale & (scale - 1):
        raise ValueError("scale must be a power of two (exact binning)")
    exploded = vecs.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("g"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    ).select(
        "id", "g", "dim",
        F.floor(F.col("v").cast("double") * scale)
        .cast("long")
        .alias("q"),
    )
    cent = exploded.groupBy("g", "dim").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    # products run in DECIMAL(38,0): at corpus scale the centroid
    # SUM s reaches n·scale·|v| and long q·s / s·s would overflow
    d38 = "decimal(38,0)"
    cnorm = cent.groupBy("g").agg(
        F.sum(F.col("s").cast(d38) * F.col("s").cast(d38)).alias("ss")
    )
    per_vec = (
        exploded.join(
            F.broadcast(cent.select("g", "dim", "s")), on=["g", "dim"]
        )
        .groupBy("id", "g")
        .agg(
            F.sum(F.col("q").cast(d38) * F.col("s").cast(d38)).alias(
                "num"
            ),
            F.sum(F.col("q").cast(d38) * F.col("q").cast(d38)).alias(
                "vv"
            ),
        )
    )
    return per_vec.join(F.broadcast(cnorm), on="g").select(
        F.col("id"),
        F.col("g"),
        # two separate square roots: vv·ss can exceed DECIMAL(38,0)
        # at corpus scale, and √a·√b is the same double both engines
        # compute from the exact integer moments
        F.floor(
            F.lit(1000000.0)
            * (
                F.col("num").cast("double")
                / (
                    F.sqrt(F.col("vv").cast("double"))
                    * F.sqrt(F.col("ss").cast("double"))
                )
            )
        )
        .cast("long")
        .alias("cos_centroid_e6"),
    )
