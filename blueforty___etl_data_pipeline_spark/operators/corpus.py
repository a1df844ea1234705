"""Corpus-level statistics and restructuring operators (north-star
extension: training-data preparation over the ``documents`` table).

- :func:`chunk_documents` — split long documents into token-budget
  windows with overlap (context-length packing's upstream step).
- :func:`top_ngrams` — corpus-wide most frequent n-grams.
- :func:`tfidf_top_terms` — per-document top terms by TF-IDF.

Scale shapes: chunking is a per-row array computation + posexplode (no
shuffle; output rows ≈ input tokens / step).  top_ngrams is the
canonical word-count — partial aggregation collapses each task to its
local n-gram vocabulary before one shuffle, then a TakeOrdered top-k
(never a full sort).  TF-IDF is two hash aggregations (term-doc counts,
then document frequencies) and a broadcast-able join of the tiny DF
side when the vocabulary fits — at web scale, prune the vocabulary
first (min_df) so the join side stays broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import ngrams, tokens_ws
from ..lineage import cut_lineage
from .dedup import shingle_hashes


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into whitespace-token windows of at most
    ``max_tokens``, consecutive windows sharing ``overlap`` tokens.

    Chunk count for n tokens is ``1 + ceil((n - max_tokens) / step)``
    (step = max_tokens - overlap) — integer arithmetic only, so Spark
    and the oracle agree exactly.  Empty docs yield no chunks.  The
    final chunk is a full ``max_tokens`` wide only when the token count
    lands on a window boundary; it is never empty and never starts past
    the end (the step divides the remaining tokens).
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError("need 0 <= overlap < max_tokens")
    step = max_tokens - overlap

    # Bind the token array ONCE as a lambda variable (same HOF-inlining
    # trap as functions/text.ngrams): otherwise the tokenizer re-splits
    # the full document per chunk — quadratic on long web documents.
    def chunks_of(arr):
        n = F.size(arr)
        # ceil((n - max_tokens)/step) via floordiv: (a + step - 1) div step
        extra = F.floor(
            (n - F.lit(max_tokens) + F.lit(step - 1)) / F.lit(step)
        ).cast("int")
        n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
            F.lit(1) + F.greatest(F.lit(0), extra)
        )
        return F.when(
            n_chunks <= 0, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(arr, i * step + 1, max_tokens)
                ),
            )
        )

    chunks = F.flatten(
        F.transform(F.array(tokens_ws(F.col(text_col))), chunks_of)
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    )
    return out.withColumn(
        "n_chunk_tokens", F.array_size(tokens_ws(F.col("chunk_text"))).cast("bigint")
    )


def fim_transform(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 16,
    pre_tok: str = "<PRE>",
    suf_tok: str = "<SUF>",
    mid_tok: str = "<MID>",
) -> DataFrame:
    """Fill-in-the-middle restructuring (Bavarian et al. 2022 — the
    infilling pretraining transform behind code models): split each
    document at two DETERMINISTIC cut points into (prefix, middle,
    suffix) and emit the PSM ordering ``<PRE>prefix<SUF>suffix<MID>
    middle`` — the model reads both context sides, then predicts the
    middle.

    Cut points derive from the portable md5 hash of the doc id (two
    salts), each uniform over [1, n−1], sorted — so the transform is
    reproducible on any engine, stable under repartition, and the
    middle may be legitimately empty (both cuts equal).  Documents
    shorter than ``min_chars`` pass through untransformed (cut 0/0,
    ``fim_text = text``) — the standard "FIM rate" gate expressed as a
    length floor rather than a sampled fraction, so it stays
    deterministic.

    Returns (id, n_chars, cut_a, cut_b, fim_text).

    Scale shape: pure map stage — two hashes and three substrings per
    row, no shuffle, no UDF."""
    from ..functions.text import md5_hash64

    n = F.length(F.col(text_col))

    def cut(salt: str):
        h = md5_hash64(
            F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
        )
        return (h % (n - 1) + 1).cast("int")

    a_raw, b_raw = cut("fim_a"), cut("fim_b")
    a = F.least(a_raw, b_raw)
    b = F.greatest(a_raw, b_raw)
    t = F.col(text_col)
    psm = F.concat(
        F.lit(pre_tok),
        t.substr(F.lit(1), a),
        F.lit(suf_tok),
        t.substr(b + 1, n - b),
        F.lit(mid_tok),
        t.substr(a + 1, b - a),
    )
    short = n < min_chars
    return df.select(
        F.col(id_col),
        n.cast("int").alias("n_chars"),
        F.when(short, F.lit(0)).otherwise(a).alias("cut_a"),
        F.when(short, F.lit(0)).otherwise(b).alias("cut_b"),
        F.when(short, t).otherwise(psm).alias("fim_text"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide top-``k`` word n-grams by occurrence count
    (deterministic tiebreak: count desc, gram asc).

    Plan: per-row n-gram array → explode → hash aggregate (map-side
    partial combine bounds the shuffle by per-task vocabulary, not
    token count) → TakeOrderedAndProject for the top-k (no global
    sort materialization).
    """
    grams = df.select(
        F.explode(ngrams(tokens_ws(F.col(text_col)), n)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("gram")).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF
    (tf = term count in doc, idf = ln(N / df_term)).

    The score is kept as ``FLOOR(score·10⁶)`` (bigint) so cross-engine
    comparison is exact — raw doubles from ``ln`` can differ in the
    last ulp between libm implementations.  Ranking ties break on the
    term string.  ``min_df`` prunes hapax noise AND, at corpus scale,
    keeps the document-frequency join side small.
    """
    words = df.select(
        F.col(id_col), F.explode(tokens_ws(F.col(text_col))).alias("term")
    )
    tf = words.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
    )
    # Corpus size as a broadcast 1-row frame — keeps the whole operator
    # lazy (no driver-side action) and the plan self-contained.
    nd = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(nd))
        .select(
            F.col(id_col),
            F.col("term"),
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * 1e6
            )
            .cast("bigint")
            .alias("score_e6"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_e6"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "score_e6", "rk")
    )


def contamination_hits(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document count of distinct trigram shingles shared with an
    evaluation set — the train/test decontamination primitive (flag
    training documents that leak benchmark content).

    Returns (``id_col``, n_hits) for corpus documents with ≥1 shared
    shingle.  Shingle hashing is the engine-standard md5 token-hash
    composition (operators/dedup.shingle_hashes), so the DuckDB oracle
    reproduces every hash exactly.

    Scale shape: the eval side (benchmark suites — thousands of docs,
    not billions) collapses to a DISTINCT shingle-hash set and is
    broadcast; the corpus side streams map-side through the hash join,
    so the only shuffle is the final per-doc count (partial-aggregated).
    If the eval set ever outgrows the broadcast threshold the same plan
    degrades gracefully to a shuffled hash join — no code change.
    """
    ev = (
        eval_df.select(
            F.explode(shingle_hashes(F.col(text_col))).alias("h")
        )
        .distinct()
    )
    cx = corpus.select(
        F.col(id_col), F.explode(shingle_hashes(F.col(text_col))).alias("h")
    )
    return (
        cx.join(F.broadcast(ev), on="h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop corpus documents sharing ≥ ``min_hits`` distinct trigram
    shingles with the evaluation set (all corpus columns preserved).

    ``min_hits`` > 1 tolerates incidental collisions on common phrases;
    1 is the conservative default.  Plan: :func:`contamination_hits`
    → LEFT ANTI join on the document id (null-safe, no row duplication).
    """
    hits = contamination_hits(
        corpus, eval_df, text_col=text_col, id_col=id_col
    ).filter(F.col("n_hits") >= F.lit(min_hits))
    return corpus.join(hits.select(id_col), on=id_col, how="left_anti")


def dedup_line_rows(
    lines: DataFrame,
    min_dup: int = 2,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    line_col: str = "line",
    delim: str = "\n",
) -> DataFrame:
    """CCNet-style line-level dedup over pre-split (doc, pos, line) rows:
    drop every line whose text occurs ``min_dup``+ times corpus-wide
    (boilerplate — nav bars, cookie banners, license headers — repeats
    across pages; prose doesn't), then reassemble each document from its
    surviving lines in order.

    Returns (id, n_kept, n_removed, kept_text).

    Scale shape: ONE groupBy on the line hash for the corpus-wide
    counts, one shuffle join of lines against the frequent-line set
    (filtered to count ≥ min_dup, so its size is the boilerplate
    vocabulary, not the corpus), one groupBy(doc) to reassemble.  Lines
    join on a 60-bit md5 hash, never the raw string — shuffle volume is
    8 bytes/line each side.  Reassembly sorts the collected (pos, line)
    structs per document — array_sort on a struct orders by the leading
    ``pos`` field, so output is deterministic under any partitioning.
    """
    from ..functions.text import md5_hash64

    h = lines.select(
        F.col(id_col),
        F.col(pos_col).alias("pos"),
        F.col(line_col).alias("line"),
        md5_hash64(F.col(line_col)).alias("_lh"),
    )
    frequent = (
        h.groupBy("_lh")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= F.lit(min_dup))
        .select("_lh")
        .withColumn("_dup", F.lit(True))
    )
    tagged = h.join(frequent, on="_lh", how="left").withColumn(
        "_dup", F.coalesce(F.col("_dup"), F.lit(False))
    )
    kept_struct = F.when(~F.col("_dup"), F.struct("pos", "line"))
    return tagged.groupBy(id_col).agg(
        F.count(F.when(~F.col("_dup"), F.lit(1))).alias("n_kept"),
        F.count(F.when(F.col("_dup"), F.lit(1))).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["line"],
            ),
            delim,
        ).alias("kept_text"),
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Tokenizer-style vocabulary build: corpus-wide token counts,
    pruned by ``min_count``, with dense ids assigned by frequency rank
    (count desc, token asc — fully deterministic).

    Returns (token, cnt, token_id), ``token_id`` starting at 1.

    Scale shape: the count is the canonical partial-aggregated
    word-count (shuffle bounded by per-task vocabulary).  The id
    assignment is ONE global window sort — over the *pruned
    vocabulary*, which is orders of magnitude smaller than the corpus
    (and shrinks further as min_count rises); a vocabulary too big to
    sort on one executor is a vocabulary too big to train with.
    """
    toks = df.select(
        F.explode(tokens_ws(F.col(text_col))).alias("token")
    )
    counts = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(min_count))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return counts.select(
        "token",
        "cnt",
        F.row_number().over(w).cast("long").alias("token_id"),
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Per-document line-repetition quality signals (the Gopher /
    CCNet "duplicate line fraction" family): how much of each document
    WITHIN-document line dedup would remove, counted in lines and in
    characters.

    Returns (id, n_lines, n_dup_lines, line_chars, dup_line_chars)
    where ``n_dup_lines`` counts occurrences beyond each distinct
    line's first and ``dup_line_chars`` their characters.  Outputs are
    bigint on purpose: integer counts compare exactly across engines,
    and threshold filters rewrite fraction predicates without division
    (``n_dup_lines / n_lines > t`` ⇔ ``n_dup_lines > t * n_lines``).

    Scale shape: entirely per-row array math — split, array_distinct,
    two length folds.  No shuffle, no UDF, no state: at 100 TB this
    runs at scan speed and pipelines into the same stage as the scan.
    ``delim`` is a Java regex, matching :func:`dedup_lines`.
    """
    lines = F.filter(
        F.split(F.col(text_col), delim, -1), lambda x: x != F.lit("")
    )
    distinct = F.array_distinct(lines)

    def _chars(arr):
        return F.aggregate(
            F.transform(arr, lambda x: F.length(x).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    return df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        (F.size(lines) - F.size(distinct)).cast("bigint").alias(
            "n_dup_lines"
        ),
        _chars(lines).alias("line_chars"),
        (_chars(lines) - _chars(distinct)).alias("dup_line_chars"),
    )


def dedup_lines(
    docs: DataFrame,
    min_dup: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Split documents on ``delim`` and apply :func:`dedup_line_rows`.

    The split + posexplode is a per-row map (no shuffle); everything
    after is the three-exchange shape documented on dedup_line_rows.
    """
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), delim, -1)).alias(
            "pos", "line"
        ),
    )
    return dedup_line_rows(
        lines, min_dup=min_dup, id_col=id_col, delim=delim
    )


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 10,
    scale: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword search: top-k documents by BM25, computed ENTIRELY in
    integer arithmetic so scores are bit-identical across engines.

    Okapi BM25 with k1=1.2, b=0.75.  Two substitutions make it exact:

    - the tf component  tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))  is
      multiplied through by 10·total_len (avgdl = total_len/n_docs):
          22·tf·total_len / ((10·tf+3)·total_len + 9·dl·n_docs)
      — integers end to end;
    - the usual log-IDF is replaced by its rational argument
      (N−df+½)/(df+½) = (2N−2df+1)/(2df+1), fixed-point scaled.  The
      log is monotone, so per-term document ordering is unchanged; the
      multi-term mixing weights differ from textbook BM25, but the
      scoring function is fully specified and engine-portable (the
      DuckDB oracle reproduces every score exactly — no float ever
      enters the pipeline).

    Magnitude bound: score terms stay under
    ``2·N·scale · 22·tf·total_len``; with scale=1000 this fits int64
    up to ~10⁸ total corpus tokens per partition of the scoring join.
    The bound is ENFORCED, not just documented: the score expression
    re-checks it per row in DECIMAL(38,0) (36 digits of headroom vs the
    19 of int64) and raises instead of silently wrapping; past the
    bound, lower ``scale`` or lift the products to DECIMAL(38,0) as
    tfidf_doc_similarity does.

    Scale shape: token explode → per-doc length agg; the query-term
    subset (tiny: |terms| rows per doc at most) drives everything else;
    corpus stats and per-term document frequencies broadcast; final
    top-k is an orderBy+limit (TakeOrdered — never a full sort).
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_ws(F.col(text_col))).alias("token")
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    qtoks = toks.filter(F.col("token").isin(*terms))
    dfreq = qtoks.groupBy("token").agg(
        F.countDistinct(id_col).alias("df_t")
    )
    tf = qtoks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .join(dl, id_col)
        .withColumn(
            "_idf_fp",
            F.expr(
                f"((2*n_docs - 2*df_t + 1) * {scale}) div (2*df_t + 1)"
            ),
        )
        .withColumn(
            "_term_score",
            F.expr(
                "CASE WHEN CAST(_idf_fp AS DECIMAL(38,0)) * 22 * tf"
                "          * total_len"
                "          > CAST(9223372036854775807 AS DECIMAL(38,0))"
                " THEN CAST(raise_error(CONCAT('bm25_topk: int64 overflow"
                " (idf_fp=', _idf_fp, ', tf=', tf, ', total_len=',"
                " total_len, ') — lower scale or use DECIMAL(38,0)'))"
                "      AS BIGINT)"
                " ELSE (_idf_fp * (22 * tf * total_len))"
                " div ((10*tf + 3) * total_len + 9 * dl * n_docs) END"
            ),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("_term_score").alias("score_fp"),
        F.count(F.lit(1)).alias("n_terms_matched"),
    )
    return per_doc.orderBy(
        F.desc("score_fp"), F.asc(id_col)
    ).limit(k)


def tfidf_doc_similarity(
    df: DataFrame,
    k_terms: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Related-documents: for every document, the most cosine-similar
    other document over sparse TF-IDF vectors (top ``k_terms`` terms per
    doc), computed via an INVERTED-INDEX join — never an all-pairs
    product.

    Exactness: similarity is compared as cos² in permille,
    ``1000·dot² div (‖a‖²·‖b‖²)`` — a ratio of integer products (scores
    are the fixed-point ``score_e6 div 1000`` from
    :func:`tfidf_top_terms`), evaluated in 128-bit integer space
    (DECIMAL(38,0) on Spark, HUGEINT in the DuckDB oracle), so the
    ranking and the reported score are bit-identical across engines.
    cos² is monotone in cosine for non-negative scores, so top-1 by
    cos² IS top-1 by cosine.

    Scale shape: candidate pairs come only from shared top-k terms —
    the inverted index bounds work by posting-list sizes (prune further
    with ``min_df``/stopword drop upstream); dot products partial-agg
    before the one pair-keyed shuffle; the final top-1 is a
    WindowGroupLimit, not a sort.
    """
    vecs = tfidf_top_terms(
        df, k=k_terms, text_col=text_col, id_col=id_col
    ).select(
        F.col(id_col), "term", F.expr("score_e6 div 1000").alias("s3")
    )
    norms = vecs.groupBy(id_col).agg(
        F.sum(F.col("s3") * F.col("s3")).alias("n2")
    )
    a = vecs.select(
        F.col(id_col).alias("id_a"), "term", F.col("s3").alias("sa")
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"), "term", F.col("s3").alias("sb")
    )
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("n2").alias("n2b"))
    scored = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cos2_permille",
            F.expr(
                "CAST((CAST(1000 AS DECIMAL(38,0))"
                " * CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0)))"
                " div (CAST(n2a AS DECIMAL(38,0))"
                "      * CAST(n2b AS DECIMAL(38,0))) AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("id_a").orderBy(
        F.desc("cos2_permille"), F.asc("id_b")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("similar_doc"),
            "cos2_permille",
        )
    )


def corpus_report(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus data card — the one-table summary a dataset
    release ships: (source, n_docs, total_tokens, total_chars,
    n_langs, n_dup_docs, dup_permille).

    A "dup doc" is one whose exact text (md5) appears ≥ 2 times
    anywhere in the corpus — duplication is measured globally and
    attributed per source, so two sources sharing boilerplate BOTH
    report it (the cross-source contamination a per-source distinct
    count would hide).

    Plan: one hash-count aggregation over (md5 → n copies), joined
    back on the hash (equi-join, hash-bounded), then ONE per-source
    aggregation.  Everything is integer-exact: token counts are
    whitespace counts, dup_permille is integer permille — the whole
    card reproduces bit-for-bit on any engine.

    Scale: the md5 aggregation is the exact-dedup shuffle the pipeline
    already pays; the report adds one source-keyed aggregation whose
    exchange carries one row per source per task.
    """
    from ..functions.text import token_count_ws

    h = F.md5(F.col(text_col))
    per_doc = df.select(
        F.col(source_col).alias("source"),
        F.col(lang_col).alias("lang"),
        token_count_ws(F.col(text_col)).alias("n_tokens"),
        F.length(F.col(text_col)).cast("bigint").alias("n_chars"),
        h.alias("_h"),
    )
    copies = per_doc.groupBy("_h").agg(
        F.count(F.lit(1)).alias("_copies")
    )
    return (
        per_doc.join(copies, on="_h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("lang").alias("n_langs"),
            F.sum(
                F.when(F.col("_copies") >= 2, 1).otherwise(0)
            ).cast("bigint").alias("n_dup_docs"),
        )
        .withColumn(
            "dup_permille", F.expr("n_dup_docs * 1000 div n_docs")
        )
    )


def collocations(
    df: DataFrame,
    k: int = 20,
    min_pair_count: int = 3,
    max_doc_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` collocations: token pairs that co-occur in documents
    far more often than their unigram frequencies predict, ranked by
    PMI — the classic phrase/topic-discovery signal
    (``pmi_e6 = floor(1e6 · ln(N·c_ab / (c_a·c_b)))``, the established
    fixed-point-log convention, tie-broken on the pair).

    Scale shape: per-doc DISTINCT tokens (array_distinct, truncated to
    ``max_doc_tokens`` — the documented skew cap for pathological
    docs) explode to within-doc pairs a<b, so pair volume is bounded
    by (distinct tokens per doc)²; pair and unigram counts partial-agg
    before their shuffles; ``min_pair_count`` prunes the long tail
    before the PMI join; final top-k is a TakeOrdered.
    """
    # sort before truncating: distinct-set ORDER is engine-specific
    # (DuckDB's list_distinct reorders), so the skew-cap subset must be
    # defined on the sorted set to be reproducible anywhere
    toks = df.select(
        F.col(id_col),
        F.slice(
            F.array_sort(F.array_distinct(tokens_ws(F.col(text_col)))),
            1,
            max_doc_tokens,
        ).alias("_ts"),
    )
    n_docs = toks.agg(F.count(F.lit(1)).alias("_n"))
    uni = (
        toks.select(F.col(id_col), F.explode("_ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    pairs = (
        toks.select(
            F.col(id_col),
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            F.col("_ts"),
                            lambda a: F.transform(
                                F.col("_ts"),
                                lambda b: F.when(a < b, F.struct(
                                    a.alias("a"), b.alias("b")
                                )),
                            ),
                        )
                    ),
                    lambda s: s.isNotNull(),
                )
            ).alias("_p"),
        )
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .filter(F.col("c_pair") >= min_pair_count)
    )
    scored = (
        pairs.join(
            uni.select(F.col("tok").alias("a"),
                       F.col("c_uni").alias("c_a")),
            on="a",
        )
        .join(
            uni.select(F.col("tok").alias("b"),
                       F.col("c_uni").alias("c_b")),
            on="b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "a",
            "b",
            "c_pair",
            "c_a",
            "c_b",
            F.floor(
                F.log(
                    F.col("_n").cast("double")
                    * F.col("c_pair")
                    / (F.col("c_a") * F.col("c_b"))
                )
                * 1e6
            )
            .cast("long")
            .alias("pmi_e6"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_e6"), F.asc("a"), F.asc("b")
    ).limit(k)


def bcubed_eval(
    assignments: DataFrame,
    gold_col: str = "gold",
    pred_col: str = "pred",
) -> DataFrame:
    """B-cubed clustering evaluation (Bagga & Baldwin 1998) — the
    standard extrinsic metric for dedup/entity-resolution cluster
    quality: per-ELEMENT precision |C(e) ∩ G(e)| / |C(e)| and recall
    |C(e) ∩ G(e)| / |G(e)|, averaged over all elements.  Unlike pair
    counting it is not dominated by the largest cluster.

    Engine-exact integer form: because pred and gold are functions of
    the element, every element of a (gold, pred) CELL shares the same
    intersection (the cell size itself), so the metric needs only the
    cell-count table.  Per-element ratios quantize to floor-1e6 and
    the average is an integer division — identical on any engine.

    Returns one row: (n_items, bcubed_p_e6, bcubed_r_e6,
    bcubed_f1_e6) with F1 derived from the two quantized averages.

    Scale shape: ONE groupBy(gold, pred) over the assignment scan
    (partial-agged), then size rollups of the CELL table (bounded by
    distinct cluster pairs, not rows) and a 1-row fold.
    """
    g = F.col(gold_col)
    c = F.col(pred_col)
    cell = assignments.groupBy(
        g.alias("_g"), c.alias("_c")
    ).agg(F.count(F.lit(1)).alias("_ngc"))
    gsz = cell.groupBy("_g").agg(F.sum("_ngc").alias("_ng"))
    csz = cell.groupBy("_c").agg(F.sum("_ngc").alias("_nc"))
    j = cell.join(gsz, "_g").join(csz, "_c")
    folded = j.agg(
        F.sum("_ngc").alias("n_items"),
        F.sum(
            F.col("_ngc")
            * F.expr("1000000 * _ngc DIV _nc")
        ).alias("_sp"),
        F.sum(
            F.col("_ngc")
            * F.expr("1000000 * _ngc DIV _ng")
        ).alias("_sr"),
    )
    return folded.select(
        "n_items",
        F.expr("_sp DIV n_items").alias("bcubed_p_e6"),
        F.expr("_sr DIV n_items").alias("bcubed_r_e6"),
        F.expr(
            "CASE WHEN _sp DIV n_items + _sr DIV n_items > 0 THEN "
            "2 * (_sp DIV n_items) * (_sr DIV n_items) "
            "DIV (_sp DIV n_items + _sr DIV n_items) ELSE 0 END"
        ).alias("bcubed_f1_e6"),
    )


def hashed_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 1024,
    signed: bool = True,
) -> DataFrame:
    """Hashing-trick text vectorizer (Weinberger et al. 2009): map
    each whitespace token straight to one of ``dim`` buckets by hash
    — NO vocabulary pass, no fit step, no dictionary to broadcast.
    That absence is the 100 TB point: a vocabulary-based vectorizer
    needs a second pass plus a giant shared dict; the hashed one is a
    single stateless projection whose output schema is fixed before
    the first byte is read, and two corpora vectorized independently
    land in the SAME space (mergeable by construction).

    ``signed`` applies the standard +/-1 sign hash so collisions
    cancel in expectation instead of accumulating.

    Hashing routes through md5 (engine-portable, like
    ``operators/sketches.py``), so an external engine reproduces the
    exact sparse vectors.  Output: (id, dim_idx, val) long-format
    sparse rows — one groupBy(id, bucket) with map-side combine, no
    arrays (driver-canonicalizer-safe).
    """
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast(
            "long"
        )
        % dim
    )
    if signed:
        sign = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("s:"), F.col("tok"))), 1, 2
                ),
                16,
                10,
            ).cast("long")
            % 2
        ) * 2 - 1
    else:
        sign = F.lit(1)
    return (
        tok.select(
            F.col(id_col),
            bucket.alias("dim_idx"),
            sign.alias("s"),
        )
        .groupBy(id_col, "dim_idx")
        .agg(F.sum("s").alias("val"))
        .filter(F.col("val") != 0)
    )



#: Hard cap on distinct classes for naive_bayes_classify's literal-fold
#: scoring path: one agg column + one array-struct element per class,
#: so plans stay well inside codegen limits (64KB methods split fine at
#: this width; thousands of columns would not) — ADVICE r14.
_NB_MAX_CLASSES = 256


def naive_bayes_classify(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes, train + resubstitution-classify in one
    lazy plan — the classic baseline text classifier (and, as a data
    tool, a source/domain attribution audit: how separable are the
    corpus slices?).

    Laplace-smoothed token weights ``ln((n_tc + 1)/(n_c + V))`` and
    priors ``ln(n_docs_c / n_docs)`` are QUANTIZED to e6 integers per
    bounded-table row (one float ``ln`` each — the token_entropy
    contract), after which every per-document score is an exact
    BIGINT sum, immune to float summation order.  Unseen (token,
    class) pairs take the smoothing floor ``ln(1/(n_c + V))`` via a
    left join onto the class grid.

    Scale shape (round-14 single-pass rewrite): the corpus is exploded
    exactly TWICE — once to build the (class, token) count table (cut
    and materialized: it is |vocab|×|classes|, bounded) and once to
    score — plus one column-pruned label scan for the priors.  The
    previous formulation re-derived every statistic from the raw
    explode, and because each DataFrame reference re-expands its whole
    subtree, the physical plan re-scanned and re-tokenized the corpus
    32 times.  Per-class smoothing floors and priors are bounded
    (|classes| rows): Spark computes them (bit-identical ``floor(1e6 ·
    ln ...)``), the driver collects them, and scoring folds them in as
    literals — so classification is one broadcast join (token →
    per-class weight row) and ONE (doc) aggregation with a per-class
    sum each, no tokens×classes row expansion and no second shuffle
    for the argmax/runner-up (computed with array expressions over the
    bounded per-class score columns).

    Returns (id, actual, predicted, margin_e6); ``margin_e6`` is the
    winning score minus the runner-up (0 when single-class).
    Tie-break: max score, then lexicographically smallest class.

    NOTE (ADVICE r14): unlike the other lazy builders, this operator
    runs Spark jobs at DataFrame-BUILD time — the (class, token) count
    table is materialized eagerly and the bounded per-class floors /
    priors are collected as literals.  The literal fold emits one agg
    column + one array-struct element per class, so Catalyst/codegen
    cost grows with |classes|; the operator refuses label columns with
    more than ``_NB_MAX_CLASSES`` distinct non-NULL classes rather
    than degrade into a thousands-of-columns plan.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_y"),
        F.explode(tokens_ws(F.col(text_col))).alias("tok"),
    )
    # One corpus explode; everything the trainer needs derives from
    # this bounded table, so cut it (guide §5: truncate reused plans).
    ntc = cut_lineage(
        toks.groupBy("_y", "tok").agg(F.count(F.lit(1)).alias("ntc"))
    )
    nc = ntc.groupBy("_y").agg(F.sum("ntc").alias("nc"))
    vocab_n = ntc.select("tok").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    classes = nc.crossJoin(F.broadcast(vocab_n)).select(
        F.col("_y").alias("cls"),
        "nc",
        "v",
        F.floor(
            F.lit(1e6)
            * F.log(
                F.lit(1.0) / (F.col("nc") + F.col("v")).cast("double")
            )
        ).cast("long").alias("floor_e6"),
    )
    ndocs = df.agg(F.count(F.lit(1)).alias("d"))
    prior = (
        df.groupBy(F.col(label_col).alias("cls"))
        .agg(F.count(F.lit(1)).alias("dc"))
        .crossJoin(F.broadcast(ndocs))
        .select(
            "cls",
            F.floor(
                F.lit(1e6)
                * F.log(
                    F.col("dc").cast("double") / F.col("d").cast("double")
                )
            ).cast("long").alias("prior_e6"),
        )
    )
    # Bounded per-class constants: NULL-labelled rows never survive the
    # original inner prior join, so only non-NULL classes score.
    # The tie-break ordering is computed IN SPARK (orderBy on the
    # bounded class table), never re-derived with Python's sort: the
    # two disagree on float labels containing NaN (Python sort is
    # undefined; Spark orders NaN largest) and on any type whose
    # Python ordering differs from Spark's (ADVICE r14).
    cls_rows = (
        classes.select("cls", "floor_e6")
        .filter(F.col("cls").isNotNull())
        .orderBy("cls")
        .collect()
    )
    if len(cls_rows) > _NB_MAX_CLASSES:
        raise ValueError(
            f"naive_bayes_classify: label column {label_col!r} has "
            f"{len(cls_rows)} distinct classes; the literal-fold "
            f"scoring path emits one agg column per class and is "
            f"capped at {_NB_MAX_CLASSES} to keep Catalyst/codegen "
            "bounded (ADVICE r14)"
        )
    floors = {r["cls"]: r["floor_e6"] for r in cls_rows}
    priors = {
        r["cls"]: r["prior_e6"]
        for r in prior.collect()
        if r["cls"] is not None
    }
    # Ascending class order as Spark sorted it — matches the oracle's
    # MIN(cls) tie-break for every orderable label type.
    cls_list = [r["cls"] for r in cls_rows]
    if not cls_list:  # empty corpus / all labels NULL
        return df.select(
            F.col(id_col),
            F.col(label_col).alias("actual"),
            F.col(label_col).alias("predicted"),
            F.lit(0).cast("long").alias("margin_e6"),
        ).limit(0)
    w = ntc.join(classes, ntc["_y"] == classes["cls"]).select(
        "cls",
        "tok",
        F.floor(
            F.lit(1e6)
            * F.log(
                (F.col("ntc") + 1).cast("double")
                / (F.col("nc") + F.col("v")).cast("double")
            )
        ).cast("long").alias("w_e6"),
    )
    # token → one row of per-class weights (|vocab| rows, broadcast)
    wpiv = w.groupBy("tok").agg(
        *[
            F.max(
                F.when(F.col("cls") == F.lit(c), F.col("w_e6"))
            ).alias(f"_w{i}")
            for i, c in enumerate(cls_list)
        ]
    )
    scored = (
        toks.join(F.broadcast(wpiv), "tok", "left")
        .groupBy("_id", "_y")
        .agg(
            *[
                F.sum(
                    F.coalesce(F.col(f"_w{i}"), F.lit(floors[c]))
                ).alias(f"_s{i}")
                for i, c in enumerate(cls_list)
            ]
        )
        .select(
            "_id",
            "_y",
            F.array(
                *[
                    F.struct(
                        (F.col(f"_s{i}") + F.lit(priors[c])).alias("s"),
                        F.lit(c).alias("cls"),
                    )
                    for i, c in enumerate(cls_list)
                ]
            ).alias("_arr"),
        )
        .withColumn(
            "_smax",
            F.array_max(F.transform("_arr", lambda x: x["s"])),
        )
    )
    return scored.select(
        F.col("_id").alias(id_col),
        F.col("_y").alias("actual"),
        F.element_at(
            F.filter("_arr", lambda x: x["s"] == F.col("_smax")), 1
        )["cls"].alias("predicted"),
        (
            F.col("_smax")
            - F.coalesce(
                F.array_max(
                    F.filter(
                        F.transform("_arr", lambda x: x["s"]),
                        lambda s: s < F.col("_smax"),
                    )
                ),
                F.col("_smax"),
            )
        ).alias("margin_e6"),
    )


def vocabulary_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary growth curve — the corpus diagnostic that
    says whether more data still buys new vocabulary (V(n) ≈ K·n^β;
    a flattening curve means the crawl is saturating its domain):
    distinct vocabulary, token and document counts after each of
    ``n_checkpoints`` id-range prefixes (checkpoint k covers ids up
    to k/n of the max id — a pure map-stage bucketing; NO global
    row-ordinal window, which would be the unpartitioned-sort
    anti-pattern at corpus scale).

    One pass, no growing state: explode tokens → per-word FIRST
    OCCURRENCE checkpoint (min — a partial-agged groupBy over the
    vocabulary, never a running distinct), then a cumulative sum over
    the ≤n_checkpoints-row result.  Returns (checkpoint, docs_seen,
    tokens_seen, vocab_seen)."""
    max_id = df.agg(F.max(F.col(id_col))).collect()[0][0]
    # Empty slice (a partition-pruned read can be legitimately empty):
    # max() is NULL — any positive span keeps the plan valid and the
    # result empty, matching the oracle's no-rows output.
    span = int(max_id) + 1 if max_id is not None else 1
    ckpt = F.least(
        (F.col(id_col) * n_checkpoints / span).cast("int") + 1,
        F.lit(n_checkpoints),
    )
    base = df.select(
        ckpt.alias("_ckpt"), tokens_ws(F.col(text_col)).alias("_toks")
    )
    toks = base.select("_ckpt", F.explode("_toks").alias("word"))
    first_seen = toks.groupBy("word").agg(
        F.min("_ckpt").alias("first_ckpt")
    )
    vocab_per = first_seen.groupBy("first_ckpt").agg(
        F.count(F.lit(1)).alias("new_words")
    )
    tokens_per = toks.groupBy("_ckpt").agg(
        F.count(F.lit(1)).alias("toks")
    )
    docs_per = base.groupBy("_ckpt").agg(
        F.count(F.lit(1)).alias("docs")
    )
    merged = (
        docs_per.join(
            tokens_per, docs_per["_ckpt"] == tokens_per["_ckpt"], "left"
        )
        .select(docs_per["_ckpt"].alias("checkpoint"), "docs", "toks")
        .join(
            vocab_per,
            F.col("checkpoint") == vocab_per["first_ckpt"],
            "left",
        )
        .select(
            "checkpoint", "docs", "toks",
            F.coalesce("new_words", F.lit(0)).alias("new_words"),
        )
    )
    w = Window.orderBy("checkpoint").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return merged.select(
        "checkpoint",
        F.sum("docs").over(w).alias("docs_seen"),
        F.sum("toks").over(w).alias("tokens_seen"),
        F.sum("new_words").over(w).alias("vocab_seen"),
    ).orderBy("checkpoint")


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY against everything earlier in corpus
    order: the share of a document's distinct shingles whose FIRST
    occurrence (minimum id) is this document.  The curation signal a
    dedup pass can't give you — a doc can be far from any single
    neighbor yet contribute almost nothing new (novelty → 0 as the
    corpus saturates, the Heaps-law view at shingle granularity);
    low-novelty tails are prime candidates for down-sampling before
    training.

    Returns (id, n_shingles, n_novel, novelty_permille) per document
    with at least one shingle.  Integer permille — engine-exact.

    Scale shape — no join ever runs at exploded-shingle cardinality
    (the naive exploded-rows ⋈ first-occurrence join shuffles the
    whole exploded corpus a second time; ``.explain`` showed it):

    - per-doc shingle counts are ``size(shingle_hashes(...))`` in the
      scan projection — a map-side column, no explode for the
      denominator (the corpus is scanned twice map-side, which at
      100 TB beats materializing or shuffling exploded rows);
    - the explode feeds a single MIN(id)-per-shingle aggregate
      (map-side combine collapses duplicates before the exchange), and
      the novel count per doc is then just ``GROUP BY first_id`` over
      that table — shingle-domain cardinality, no corpus re-scan;
    - the final join matches two DOC-cardinality tables on id.

    MIN is mergeable, so incremental corpus appends fold new batches
    against the persisted first-occurrence table instead of rescanning
    history.
    """
    sizes = df.select(
        F.col(id_col),
        F.size(shingle_hashes(F.col(text_col), n)).alias("n_shingles"),
    ).filter(F.col("n_shingles") > 0)
    first = (
        df.select(
            F.col(id_col),
            F.explode(shingle_hashes(F.col(text_col), n)).alias("_sh"),
        )
        .groupBy("_sh")
        .agg(F.min(id_col).alias("_first"))
    )
    novel = first.groupBy(F.col("_first").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    return (
        sizes.join(novel, on=id_col, how="left")
        .fillna({"n_novel": 0})
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.expr("1000 * n_novel div n_shingles").alias(
                "novelty_permille"
            ),
        )
    )


def ngram_index_search(
    df: DataFrame,
    phrase: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Distributed phrase search through a trigram inverted index —
    the "grep 100 TB" shape: posting lists (shingle hash → doc) are
    built once, a phrase query touches only ITS shingles' postings,
    candidates must contain ALL query shingles, and a final
    substring verification on just the candidate rows removes hash
    collisions — so the result is EXACTLY the brute-force scan's,
    at a fraction of the cost.

    Returns (id, n_chars) for every document containing ``phrase`` as
    a TOKEN-BOUNDARY sequence (the match is on the whitespace token
    stream, not raw substrings — "a a the" must not match inside
    "a a then"); phrases shorter than ``n`` words raise, their
    selectivity belongs to a different index.

    Scale shape: the query's shingles are a ≤|phrase| literal array —
    the posting join is an equi-join of the exploded corpus against a
    broadcast of that tiny set; the ALL-shingles gate is a partial-
    agged per-doc count; verification scans only candidate docs
    (semi-join pushdown), never the corpus."""
    qtok = phrase.split()
    if len(qtok) < n:
        raise ValueError(f"phrase needs >= {n} tokens for the {n}-gram index")
    spark = df.sparkSession
    qsh = (
        spark.range(1)
        .select(
            F.explode(
                shingle_hashes(F.lit(" ".join(qtok)), n)
            ).alias("_qh")
        )
        .distinct()
    )
    postings = df.select(
        F.col(id_col),
        F.explode(shingle_hashes(F.col(text_col), n)).alias("_sh"),
    )
    nq = len(qtok) - n + 1  # distinct query shingles upper bound
    candidates = (
        postings.join(
            F.broadcast(qsh), F.col("_sh") == F.col("_qh")
        )
        .groupBy(id_col)
        .agg(F.countDistinct("_sh").alias("_hits"))
        .join(
            F.broadcast(
                qsh.agg(F.count(F.lit(1)).alias("_nq"))
            )
        )
        .filter(F.col("_hits") == F.col("_nq"))
        .select(id_col)
    )
    # token-boundary verification: normalize the token stream to
    # single spaces and require the padded phrase — exact against the
    # shingle candidates regardless of the source's whitespace
    needle = " " + " ".join(qtok) + " "
    haystack = F.concat(
        F.lit(" "), F.concat_ws(" ", tokens_ws(F.col(text_col))), F.lit(" ")
    )
    return (
        df.join(candidates, on=id_col, how="left_semi")
        .filter(haystack.contains(needle))
        .select(F.col(id_col), F.length(text_col).alias("n_chars"))
    )


def rake_keywords(
    docs: DataFrame,
    stopwords: tuple[str, ...] = ("a", "the"),
    top_k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-delimited token runs; each word scores
    degree/frequency (degree = total length of phrases it appears
    in), and a phrase scores the sum of its word scores — the
    classic unsupervised keyword ranker.

    Engine-exactness: word scores floor to e6 as INTEGER divisions
    BEFORE the phrase sum (the floor-before-sum discipline — a float
    sum's addition order is partial-aggregation-dependent, an integer
    sum is not), so ranking is bit-stable in any engine.  Ties break
    by phrase text.  Output: top ``top_k`` (phrase, n_occurrences,
    score_e6).

    Scale shape: ONE posexplode of the token stream; phrase ids come
    from the gaps-and-islands trick (position − per-doc non-stopword
    rank — pure window arithmetic, no per-row Python); word stats are
    a vocabulary-bounded aggregation joined back broadcast-style; the
    final rank is a TakeOrdered top-k fan-in.  Raw token rows shuffle
    once (the per-doc window), every later stage is phrase- or
    vocabulary-cardinality.
    """
    toks = (
        docs.select(
            F.col(id_col).alias("d"),
            F.posexplode(tokens_ws(F.col(text_col))).alias("pos", "tok"),
        )
        .filter(~F.col("tok").isin(*stopwords))
    )
    w = Window.partitionBy("d").orderBy("pos")
    pt = toks.withColumn(
        "g", F.col("pos") - F.row_number().over(w)
    ).transform(cut_lineage)
    phrases = pt.groupBy("d", "g").agg(
        F.count(F.lit(1)).alias("plen"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
    )
    word_stats = (
        pt.join(phrases.select("d", "g", "plen"), on=["d", "g"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
        .select(
            "tok",
            F.expr("(1000000 * deg) div freq").alias("wscore_e6"),
        )
    )
    phrase_scores = (
        pt.join(word_stats, on="tok")
        .groupBy("d", "g")
        .agg(F.sum("wscore_e6").alias("score_e6"))
    )
    return (
        phrases.join(phrase_scores, on=["d", "g"])
        .groupBy("phrase", "score_e6")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select(
            "phrase",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            F.col("score_e6").cast("long").alias("score_e6"),
        )
        .orderBy(F.desc("score_e6"), F.asc("phrase"))
        .limit(top_k)
    )


def skipgram_pairs(
    docs: DataFrame,
    window: int = 2,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts within a
    ±``window`` token distance — the training-pair extraction behind
    word2vec/GloVe-style embedding pipelines and PMI association
    tables (collocations counts DOC-level co-occurrence; this counts
    POSITION-level, direction-collapsed).

    Pairs are canonicalized (min(tok_a, tok_b), max(...)) so each
    unordered co-occurrence counts once.  Output: (tok_a, tok_b,
    n_cooc) for pairs seen ≥ ``min_count`` times.

    Scale shape: NO self-join — the context tokens come from
    ``window`` LEAD() expressions sharing ONE per-doc window sort, so
    the exchange carries token rows exactly once and pair volume is
    window·corpus_tokens by construction (never quadratic).  The
    count aggregation is partial-agged on the pair key.
    """
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col).alias("d"),
        F.posexplode(tokens_ws(F.col(text_col))).alias("pos", "tok"),
    )
    w = W.partitionBy("d").orderBy("pos")
    lead_cols = [
        F.lead("tok", k).over(w).alias(f"_n{k}")
        for k in range(1, window + 1)
    ]
    with_leads = toks.select("tok", *lead_cols)
    stacked = None
    for k in range(1, window + 1):
        s = with_leads.select(
            "tok", F.col(f"_n{k}").alias("ctx")
        ).filter(F.col("ctx").isNotNull())
        stacked = s if stacked is None else stacked.unionByName(s)
    return (
        stacked.select(
            F.least("tok", "ctx").alias("tok_a"),
            F.greatest("tok", "ctx").alias("tok_b"),
        )
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .filter(F.col("n_cooc") >= min_count)
    )


def good_turing_counts(
    docs: DataFrame,
    max_r: int = 10,
    ngram_n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table: for each observed
    count r ≤ ``max_r``, how many distinct words occur exactly r
    times (N_r) and the smoothed count r* = (r+1)·N_{r+1}/N_r — the
    classic LM-smoothing estimate of how much probability mass the
    unseen tail deserves (N_1/total tokens ≈ P(unseen), carried on
    every row as ``p0_e9``).

    All arithmetic is exact integers: r* floors to e6 via ONE long
    floor-division, P(unseen) to e9 likewise — no float chain, so the
    table is engine-replayable bit-for-bit.  Rows where N_{r+1} = 0
    report ``r_star_e6 = -1`` (the estimate is undefined there; real
    smoothers switch to a fit — out of scope for the table).

    ``ngram_n`` > 1 counts word n-grams instead of unigrams — the
    usual way to expose a long tail (and the unit LM smoothing is
    actually applied to) when the unigram vocabulary is saturated.

    Scale shape: ONE token explode → partial-agged word counts
    (vocabulary-bounded) → count-of-counts agg (≤ max_r + tail rows)
    → a broadcast self-join on r+1.  Raw tokens shuffle once.
    """
    units = tokens_ws(F.col(text_col))
    if ngram_n > 1:
        units = ngrams(units, ngram_n)
    words = (
        docs.select(F.explode(units).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    tot = words.agg(
        F.sum("r").alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).alias("n1"),
    )
    freq = (
        words.filter(F.col("r") <= max_r + 1)
        .groupBy("r")
        .agg(F.count(F.lit(1)).alias("n_r"))
    )
    nxt = freq.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    return (
        freq.filter(F.col("r") <= max_r)
        .join(F.broadcast(nxt), on="r", how="left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_r").cast("long").alias("n_r"),
            F.coalesce(F.col("n_r1"), F.lit(0))
            .cast("long")
            .alias("n_r_plus_1"),
            F.when(
                F.coalesce(F.col("n_r1"), F.lit(0)) == 0, F.lit(-1)
            )
            .otherwise(
                F.expr("(1000000 * (r + 1) * n_r1) div n_r")
            )
            .cast("long")
            .alias("r_star_e6"),
            F.expr("(1000000000 * n1) div n_tokens")
            .cast("long")
            .alias("p0_e9"),
        )
    )


def zipf_fit(
    docs: DataFrame,
    min_count: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Fit the Zipf rank-frequency law: OLS of ln(count) on ln(rank)
    over the word table — the corpus-health scalar next to
    ``vocabulary_growth`` (natural text slopes ≈ −1; a slope near 0
    screams synthetic/truncated vocabulary, a cliff past −1.5 screams
    boilerplate).

    Determinism contract: ranks come from the DISTRIBUTED two-phase
    exact rank (count DESC, word ASC — no single-partition sort);
    ln(rank)/ln(count) floor to e6 INTEGERS per word BEFORE the
    moment sums (floor-before-sum — float addition order never
    matters), the moments accumulate in DECIMAL(38,0), and the two
    OLS determinant ratios are the only doubles.  Output: ONE row
    (n_vocab, slope_e6, intercept_e6).

    Scale shape: vocabulary-bounded everything — one token explode +
    word-count agg touches the corpus once; the rank runs chunk-
    parallel; the fit is one map-side-combined moment aggregation.
    """
    from .analytics import exact_global_rank

    words = (
        docs.select(F.explode(tokens_ws(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .withColumn("_neg", -F.col("c"))
    )
    ranked, _n = exact_global_rank(words, "_neg", "tok", out_col="rank")
    d38 = "decimal(38,0)"
    xy = ranked.select(
        F.floor(F.lit(1000000.0) * F.log(F.col("rank").cast("double")))
        .cast(d38)
        .alias("x"),
        F.floor(F.lit(1000000.0) * F.log(F.col("c").cast("double")))
        .cast(d38)
        .alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    inum = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return m.select(
        F.col("n").cast("long").alias("n_vocab"),
        F.floor(
            F.lit(1000000.0) * (num.cast("double") / den.cast("double"))
        )
        .cast("long")
        .alias("slope_e6"),
        F.floor(
            (inum.cast("double") / den.cast("double"))
        )
        .cast("long")
        .alias("intercept_e6"),
    )


def term_burstiness(
    docs: DataFrame,
    min_df: int = 5,
    top_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Term burstiness: the variance-to-mean ratio (index of
    dispersion) of each word's PER-DOCUMENT count — the corpus
    statistic that separates topical terms (bursty: absent from most
    docs, dense where they appear) from function words (Poisson-like,
    VMR ≈ 1), which stopword lists, keyword weighting and
    boilerplate detection all lean on.

    With per-doc counts c_d over ALL N docs (zeros included — a word
    absent from a doc still contributes to the dispersion):

        VMR = Var(c) / Mean(c)
            = (N·Σc² − (Σc)²) / (N·Σc)      (population variance)

    Every term is an exact integer; the ratio floors to e6 via ONE
    long division (numerator × 1e6 div denominator), so the statistic
    is engine-exact.  Output: top ``top_k`` bursty terms with df ≥
    ``min_df`` — (tok, df, total_count, vmr_e6), ordered by VMR desc,
    tok.

    Scale shape: one token explode → (doc, tok) partial-agged counts
    → vocabulary-bounded moment agg (Σc and Σc² need only the
    NONZERO doc counts; the zero docs enter through N, carried
    broadcast) → TakeOrdered top-k.
    """
    pairs = (
        docs.select(
            F.col(id_col).alias("d"),
            F.explode(tokens_ws(F.col(text_col))).alias("tok"),
        )
        .groupBy("d", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n"))
    per_tok = pairs.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    return (
        per_tok.filter(F.col("df") >= min_df)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            F.col("df").cast("long").alias("df"),
            F.col("sc").cast("long").alias("total_count"),
            F.expr(
                "(1000000 * (n * scc - sc * sc)) div (n * sc)"
            )
            .cast("long")
            .alias("vmr_e6"),
        )
        .orderBy(F.desc("vmr_e6"), F.asc("tok"))
        .limit(top_k)
    )


def oov_rate(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Out-of-vocabulary rate per group — the tokenizer-coverage
    diagnostic of corpus curation: what permille of a source's word
    occurrences fall outside the corpus vocabulary (tokens seen ≥
    ``min_count`` times)?  High OOV flags a source the tokenizer will
    shred into fragments (cf. bpe_fertility, which measures the
    fragment COUNT; this measures the coverage HOLE).

        oov_permille = (1000 · n_oov) ÷ n_words   (exact longs)

    Scale shape: the corpus explodes to words ONCE
    (a lazy ``cut_lineage`` feeds both branches), the vocabulary
    is the canonical partial-agged word count pruned at ``min_count``
    (no rank window needed — membership only), and scoring is one
    hash join of words against the pruned vocab + one per-group agg.
    Returns (group, n_words, n_oov, oov_permille).
    """
    words = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens_ws(F.col(text_col))).alias("token"),
    ).transform(cut_lineage, eager=False)
    vocab = (
        words.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= F.lit(min_count))
        .select("token", F.lit(1).alias("_in"))
    )
    return (
        words.join(vocab, on="token", how="left")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.expr("(1000 * n_oov) div n_words")
            .cast("long")
            .alias("oov_permille"),
        )
    )
