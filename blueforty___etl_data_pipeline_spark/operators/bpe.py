"""Distributed BPE (byte-pair-encoding) merge training — the tokenizer-
training primitive of an LLM data pipeline, Spark-first.

Classic word-level BPE (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units" — public method): start
from characters, repeatedly merge the most frequent adjacent symbol
pair.  The distributed shape:

- The working state is the **distinct-word table** (word → symbol
  sequence, word count), NOT the corpus: one word-count aggregation up
  front reduces 100 TB of text to a vocabulary-bounded state that every
  subsequent round touches.  This is the same reduction every published
  BPE trainer performs; here it is a partial-aggregated shuffle.
- Each merge round is (a) pair extraction — a per-row explode of
  adjacent symbol pairs weighted by word count, (b) a pair-count
  aggregation (partial combine → exchange carries one row per distinct
  pair per task), (c) a global top-1 (count DESC, pair ASC — the
  deterministic tiebreak both engines reproduce), (d) a map-only
  literal ``replace`` applying the merge to every word's symbol string,
  whose result is cut (``cut_lineage``) so no round's plan nests the
  rounds before it.  The only driver traffic is the 1-row argmax per
  round — the same bounded driver loop as Lloyd's iterations in
  kmeans_train.
- Symbol sequences are stored as a single ``\\x1f``-joined string, so
  applying a merge is a literal string replace (greedy non-overlapping
  left-to-right — Java and DuckDB ``replace`` agree on this), and the
  whole round stays in whole-stage codegen: no UDFs anywhere.

Scale: rounds × (one vocabulary-bounded shuffle + one map pass).  The
corpus is scanned exactly once, by the word-count aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..lineage import cut_lineage

#: Symbol separator inside the packed sequence string.  0x1F (unit
#: separator) never survives the ``^[a-z]+$`` word filter, so it cannot
#: collide with symbol content.
SEP = "\x1f"


def word_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Corpus → (word, cnt) for lowercase-alpha words with at least
    ``min_count`` occurrences.  The single corpus-wide scan; everything
    after operates on this vocabulary-bounded table."""
    w = F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    return (
        df.select(w)
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def _initial_state(words: DataFrame) -> DataFrame:
    """word → character-level symbol string ('abc' → 'a\\x1fb\\x1fc')."""
    sym = F.regexp_replace(
        F.regexp_replace(F.col("w"), "(.)", "$1" + SEP), SEP + "$", ""
    )
    return words.select(sym.alias("sym"), "cnt")


_PAIRS_EXPR = (
    "explode(arrays_zip("
    "slice(split(sym, chr(31)), 1, size(split(sym, chr(31))) - 1), "
    "slice(split(sym, chr(31)), 2, size(split(sym, chr(31))) - 1)))"
)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges over the corpus; returns the
    merge table (step, lhs, rhs, merged, pair_count) — ``step`` is the
    merge order, which IS the tokenizer's merge-priority list.

    Deterministic: ties broken by (pair_count DESC, lhs ASC, rhs ASC),
    so the result is engine- and partitioning-invariant and the DuckDB
    oracle reproduces it bit-for-bit (see __spark_entry__:
    _sql_bpe_train, which unrolls the same rounds as chained CTEs).
    """
    spark = df.sparkSession
    state = cut_lineage(_initial_state(word_counts(df, text_col, min_count)))
    merges: list[tuple[int, str, str, int]] = []
    for step in range(num_merges):
        pairs = state.select(F.expr(_PAIRS_EXPR).alias("p"), "cnt").select(
            F.col("p")["0"].alias("lhs"),
            F.col("p")["1"].alias("rhs"),
            "cnt",
        )
        top = (
            pairs.groupBy("lhs", "rhs")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, pc = top[0]["lhs"], top[0]["rhs"], top[0]["pair_count"]
        merges.append((step, lhs, rhs, int(pc)))
        # Lazy cut: the next round's top-1 job is the only reader, so
        # the merged state materializes inside that job — one job per
        # round, and each round applies one replace to the last cut.
        state = cut_lineage(
            state.select(
                F.replace(
                    F.col("sym"), F.lit(lhs + SEP + rhs), F.lit(lhs + rhs)
                ).alias("sym"),
                "cnt",
            ),
            eager=False,
        )
    return spark.createDataFrame(
        [
            (step, lhs, rhs, lhs + rhs, pc)
            for step, lhs, rhs, pc in merges
        ],
        "step int, lhs string, rhs string, merged string, pair_count long",
    )


def bpe_segment(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table to segment documents:
    (id, n_words, n_tokens) where n_tokens counts BPE symbols after
    replaying the merges in priority order over each word.

    The merge list is tiny (num_merges rows) and is collected once and
    folded into a single column expression — the segmentation itself is
    a map-only pass, no shuffle, no UDF."""
    ordered = [
        (r["lhs"], r["rhs"])
        for r in merges.orderBy("step").collect()
    ]
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
    ).filter(F.col("w").rlike("^[a-z]+$"))
    sym = F.regexp_replace(
        F.regexp_replace(F.col("w"), "(.)", "$1" + SEP), SEP + "$", ""
    )
    for lhs, rhs in ordered:
        sym = F.replace(sym, F.lit(lhs + SEP + rhs), F.lit(lhs + rhs))
    return (
        words.select(
            F.col(id_col),
            (F.size(F.split(sym, "\x1f"))).alias("n_sym"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_tokens"),
        )
    )
