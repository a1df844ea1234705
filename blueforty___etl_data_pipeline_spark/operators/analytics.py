"""Analytic window functions beyond the reference's single ROW_NUMBER
(SURVEY.md §2.5 — the reference needs only W1; a general engine needs
lag/lead, ranks, and running aggregates).

Scale note: every window here is one shuffle on its partition keys plus
a per-group sort.  Running frames are declared ROWS-based explicitly —
Spark's default frame with an ORDER BY is RANGE, which groups peer rows
and differs from ROWS when the sort key has ties.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..lineage import cut_lineage


def _w(partition_by: Sequence[str], order_by: Sequence[Column | str]):
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def _truncdiv(num: str, den: str) -> Column:
    """Exact TRUNCATING division of integer/decimal SQL expressions —
    DuckDB ``//`` parity.  DuckDB (1.0.0) integer ``//`` truncates
    toward zero (verified: ``-7 // 2 = -3`` on BIGINT and HUGEINT
    alike), which is exactly Spark's ``div``; a floor variant
    (quotient − 1 for negative inexact quotients) would DIVERGE from
    the oracle on negative sums (ADVICE r12 — the round-11 floor
    "fix" was itself the bug; reverted here with a regression test
    covering negative dividends)."""
    return F.expr(f"(({num}) div ({den}))")


#: Exact floor division for NONNEGATIVE DECIMAL(38,0) expressions whose
#: QUOTIENT can exceed int64 — Spark's ``div`` returns a LONG and
#: silently wraps such quotients (verified round 12).  Subtracting the
#: exact decimal remainder first makes the decimal divide land on an
#: integer quotient, which DECIMAL(38,6) represents exactly (≤ 32
#: integer digits), so the final CAST back to DECIMAL(38,0) is lossless.
_DEC_FLOORDIV_SQL = (
    "CAST((({num}) - (({num}) % ({den}))) / ({den}) AS DECIMAL(38,0))"
)


def _dec_truncdiv(num: str, den: str) -> Column:
    """See ``_DEC_FLOORDIV_SQL``; nonnegative operands only (decimal %
    follows the dividend sign, so this is trunc, = floor for ≥ 0)."""
    return F.expr(_DEC_FLOORDIV_SQL.format(num=num, den=den))


def with_lag_lead(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    lag_alias: str = "prev",
    lead_alias: str = "next",
) -> DataFrame:
    """Previous/next value of ``col`` per key in event order (null at the
    partition edges).  Pass a total order — lag over ties is
    nondeterministic under parallel execution."""
    w = _w(partition_by, order_by)
    return df.select(
        "*",
        F.lag(col).over(w).alias(lag_alias),
        F.lead(col).over(w).alias(lead_alias),
    )


def running_sum(
    df: DataFrame,
    value: Column,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    alias: str = "running_sum",
) -> DataFrame:
    """Cumulative sum per key in event order, ROWS-framed (each row sees
    exactly the rows before it, regardless of sort-key ties)."""
    w = _w(partition_by, order_by).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.select("*", F.sum(value).over(w).alias(alias))


def ranked(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    alias: str = "rank",
    dense: bool = False,
) -> DataFrame:
    """RANK / DENSE_RANK per key (gaps vs no gaps after ties)."""
    w = _w(partition_by, order_by)
    fn = F.dense_rank() if dense else F.rank()
    return df.select("*", fn.over(w).cast("int").alias(alias))


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Assign a per-user session index by the classic gap rule: a new
    session starts when the time since the user's previous event
    exceeds ``gap_minutes``.

    Adds ``session_idx`` (1-based per user); ``(user, session_idx)`` is
    the session key.  Unlike ``F.session_window`` (which aggregates
    away the rows), this keeps every event row — the form downstream
    per-event feature pipelines need.

    One shuffle on ``user_col``; the lag and the running count share a
    single window sort.  The order (ts, tiebreak) is total, so session
    boundaries are identical under any partitioning.  The gap compare
    is integer microseconds — no float time arithmetic.
    """
    w = _w([user_col], [ts_col, tiebreak_col])
    gap_us = gap_minutes * 60 * 1_000_000
    prev_us = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    is_new = F.when(
        prev_us.isNull()
        | (F.unix_micros(F.col(ts_col)) - prev_us > F.lit(gap_us)),
        F.lit(1),
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.select(
        "*", F.sum(is_new).over(wrun).cast("long").alias("session_idx")
    )


def funnel_counts(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    event_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: how many users reached step k, where
    step k counts only when it happens STRICTLY AFTER the user's
    earliest completion of step k-1.

    Returns (step, step_name, n_users), one row per funnel step.

    Scale shape: per step, one filtered aggregation (min event time per
    user) and one equi-join against the survivors of the previous step
    — never a per-user sort of full history, never a cross join.  The
    survivor side only shrinks, so after a selective first step Spark's
    AQE promotes the joins to broadcast.  Time compares are integer
    microseconds.
    """
    if not steps:
        raise ValueError("need at least one funnel step")
    ev = df.select(
        F.col(user_col).alias("_u"),
        F.unix_micros(F.col(ts_col)).alias("_us"),
        F.col(event_col).alias("_e"),
    )
    counts = []
    cur = (
        ev.filter(F.col("_e") == steps[0])
        .groupBy("_u")
        .agg(F.min("_us").alias("_t"))
    )
    counts.append(cur)
    for name in steps[1:]:
        nxt = (
            ev.filter(F.col("_e") == name)
            .join(cur.select("_u", F.col("_t").alias("_pt")), on="_u")
            .filter(F.col("_us") > F.col("_pt"))
            .groupBy("_u")
            .agg(F.min("_us").alias("_t"))
        )
        counts.append(nxt)
        cur = nxt
    out = None
    for i, (name, users) in enumerate(zip(steps, counts), start=1):
        row = users.agg(
            F.lit(i).cast("int").alias("step"),
            F.lit(name).alias("step_name"),
            F.count(F.lit(1)).alias("n_users"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort-retention matrix: users bucketed by first-seen
    week, counted distinct in each later week they return.

    Returns (cohort_week, week_offset, n_users) where ``cohort_week``
    is integer weeks since 1970-01-01 (epoch-day // 7 — pure integer
    bucketing, immune to the engines' differing WEEK/date-trunc
    conventions) and ``week_offset`` is 0 for the cohort's own week.

    Plan: one aggregation for first-seen per user, one join of events
    back to it (the per-user side is |users| rows — broadcast-able far
    beyond memory limits that would stop the raw events), one distinct
    count per (cohort, offset).
    """
    wk = lambda c: F.floor(F.unix_date(F.to_date(c)) / 7)  # noqa: E731
    first = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(wk(F.col(ts_col))).alias("cohort_week")
    )
    act = df.select(
        F.col(user_col).alias("_u"), wk(F.col(ts_col)).alias("_w")
    )
    return (
        act.join(first, on="_u")
        .groupBy(
            "cohort_week",
            (F.col("_w") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct(F.col("_u")).alias("n_users"))
    )


def action_sequences(
    df: DataFrame,
    user_col: str = "user_id",
    action_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    sep: str = ">",
) -> DataFrame:
    """Behavioral-sequence dataset construction: per user, the full
    action string in event order — the input shape for sequence-model
    training (next-action prediction, session embeddings).

    Returns (user, n_events, first_ts_us, last_ts_us, actions) with
    ``actions`` scalar-encoded (``sep``-joined), not an array.  Order
    is (ts, id) — the id tiebreak makes simultaneous events
    deterministic, so the string is partition- and engine-invariant.

    Plan: ONE aggregation — events fold into per-user sorted structs
    (``sort_array(collect_list(struct(ts, id, action)))``) inside the
    object hash aggregate, so the only shuffle is the groupBy on the
    user key; no window, no second pass.  Per-user state is that
    user's own event list — the same bound any sequence-model training
    prep must accept (cap upstream with a per-user quota for
    pathological keys).
    """
    us = F.unix_micros(F.col(ts_col))
    packed = F.sort_array(
        F.collect_list(
            F.struct(
                us.alias("_us"),
                F.col(id_col).alias("_id"),
                F.col(action_col).alias("_a"),
            )
        )
    )
    return df.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(us).alias("first_ts_us"),
        F.max(us).alias("last_ts_us"),
        F.array_join(
            F.transform(packed, lambda s: s["_a"]), sep
        ).alias("actions"),
    )


def action_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    action_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: (action, next_action, n_transitions, share_permille) —
    the behavioral-modeling twin of :func:`action_sequences`
    (next-item prediction priors, funnel leak analysis, bot-pattern
    detection).

    Ordering is total — (ts, tiebreak) — so the lead pairing is
    deterministic under any partitioning; shares are integer permille
    per source action (engine-exact).

    Scale shape: ONE user-keyed window (same shuffle a sessionize
    already pays) → pair hash-agg with map-side combine (exchange
    volume bounded by |actions|², not events) → per-action share via a
    window over the tiny matrix itself.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.select(
            F.col(action_col).alias("action"),
            F.lead(action_col).over(w).alias("next_action"),
        )
        .filter(F.col("next_action").isNotNull())
        .groupBy("action", "next_action")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    return pairs.select(
        "action",
        "next_action",
        "n_transitions",
        F.expr(
            "1000 * n_transitions div SUM(n_transitions) "
            "OVER (PARTITION BY action)"
        ).alias("share_permille"),
    )


def conversion_attribution(
    df: DataFrame,
    touch_type: str = "click",
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    action_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-/last-touch attribution: for every conversion event, the
    earliest and latest PRECEDING touch event of the same user →
    (user, conversion_id, conversion_ts, first_touch_ts,
    last_touch_ts) with NULLs for unattributed conversions.

    One per-user window carries both running aggregates — min and
    last-non-null of the conditional touch timestamp — so attribution
    costs exactly the sessionize shuffle, with no touches×conversions
    self-join (the naive SQL shape, which is quadratic per user).
    TIME-strict semantics: the window orders by microseconds with a
    RANGE frame ending at −1 µs, so the frame holds exactly the rows
    with ``touch_ts < conversion_ts`` — a same-INSTANT touch never
    attributes, regardless of how event ids tie-break the row order.
    (Within an equal-µs tie group the attributed VALUE is still
    deterministic: min is order-free, and last-non-null either comes
    from the tie group — where every candidate carries the same µs —
    or from strictly earlier rows.)
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(user_col)
        .orderBy("_us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    df = df.withColumn("_us", us)
    touch_ts = F.when(F.col(action_col) == touch_type, F.col(ts_col))
    out = df.select(
        F.col(user_col),
        F.col(id_col).alias("conversion_id"),
        F.col(action_col),
        F.col(ts_col).alias("conversion_ts"),
        F.min(touch_ts).over(w).alias("first_touch_ts"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("last_touch_ts"),
    )
    return out.filter(F.col(action_col) == conversion_type).drop(
        action_col
    )


def running_distinct(
    df: DataFrame,
    key_col: str,
    order_col: str,
    distinct_col: str,
    alias: str = "n_distinct_so_far",
) -> DataFrame:
    """Cumulative DISTINCT count per key in event order — the
    ``COUNT(DISTINCT) OVER (ORDER BY …)`` SQL engines (Spark included)
    refuse to evaluate, expressed with two windows: flag each row that
    is the FIRST occurrence of its ``distinct_col`` value within the
    key (row_number over (key, value) = 1), then a running sum of the
    flags over the event order.  Classic use: distinct users reached
    as of each event/day.

    Ties in ``order_col`` share a RANGE-frame running value (the tie
    group is atomic), so the result is row-order-invariant.

    Scale shape: two window passes over the same key partition — the
    first sorts by (value, order), the second by order; both shuffles
    key on ``key_col`` and AQE reuses the exchange.
    """
    w_first = Window.partitionBy(key_col, distinct_col).orderBy(
        order_col
    )
    w_run = Window.partitionBy(key_col).orderBy(order_col)
    flagged = df.withColumn(
        "_new",
        F.when(F.row_number().over(w_first) == 1, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    return flagged.withColumn(
        alias, F.sum("_new").over(w_run).cast("long")
    ).drop("_new")


def roc_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    step: int = 100,
    max_score: int = 1000,
) -> DataFrame:
    """Threshold sweep for a binary classifier over an INTEGER score
    (e.g. a permille quality signal): for every threshold
    ``t ∈ {0, step, …, max_score}``, the confusion counts and rates of
    the rule "predict positive iff score ≥ t" — the curve a
    training-data pipeline reads to pick its quality-filter cutoff.

    Returns (threshold, n_pred_pos, tp, fp, tpr_permille,
    fpr_permille), one row per threshold, rates in integer permille
    (engine-deterministic).

    Scale shape: ONE partial-agged pass buckets the corpus to
    ``max_score/step + 1`` (bucket, pos, neg) rows; the cumulative
    "≥ t" counts come from a broadcast theta-join of the tiny
    threshold spine against the tiny bucket table — the corpus is
    scanned once and never re-scanned per threshold.
    """
    n_t = max_score // step + 1
    bucketed = (
        df.select(
            F.expr(
                f"LEAST(CAST({score_col} div {int(step)} AS BIGINT), "
                f"{n_t - 1})"
            ).alias("_b"),
            F.col(label_col).cast("boolean").alias("_l"),
        )
        .groupBy("_b")
        .agg(
            F.sum(F.when(F.col("_l"), 1).otherwise(0)).alias("_pos"),
            F.sum(F.when(~F.col("_l"), 1).otherwise(0)).alias("_neg"),
        )
    )
    spark = df.sparkSession
    spine = spark.range(n_t).select(
        (F.col("id") * step).cast("long").alias("threshold"),
        F.col("id").alias("_t"),
    )
    cum = (
        spine.join(
            F.broadcast(bucketed), F.col("_b") >= F.col("_t"), "left"
        )
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum("_pos"), F.lit(0)).alias("tp"),
            F.coalesce(F.sum("_neg"), F.lit(0)).alias("fp"),
        )
    )
    totals = bucketed.agg(
        F.sum("_pos").alias("_p"), F.sum("_neg").alias("_n")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .select(
            "threshold",
            (F.col("tp") + F.col("fp")).alias("n_pred_pos"),
            "tp",
            "fp",
            F.expr(
                "CASE WHEN _p > 0 THEN 1000 * tp div _p ELSE 0 END"
            ).alias("tpr_permille"),
            F.expr(
                "CASE WHEN _n > 0 THEN 1000 * fp div _n ELSE 0 END"
            ).alias("fpr_permille"),
        )
    )


def pareto_front_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str = "id",
) -> DataFrame:
    """2-D Pareto front (skyline): rows not dominated under
    (minimize ``x_col``, maximize ``y_col``) — r' dominates r when
    x' ≤ x, y' ≥ y, and at least one is strict.  Ties on both axes are
    mutually non-dominating, so equal points all survive.  Flip a sign
    on the input to change an objective's direction.  Rows with a NULL
    objective are excluded (dominance is undefined for them).

    The naive skyline is a quadratic NOT-EXISTS self-join (that IS the
    DuckDB oracle).  This form is shuffle-bounded by the x value
    domain instead: per-x max(y) (one partial-agged reduction), a
    strictly-preceding running max over the DISTINCT-x table (window
    over |distinct x| rows, value-domain-bounded — the mad_outliers
    argument), and a broadcast join back.  A row survives iff its y
    equals its x-group max and strictly exceeds every smaller-x max.

    Returns (id, x, y) for the surviving rows.
    """
    pts = df.select(
        F.col(id_col), F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    gx = pts.groupBy("_x").agg(F.max("_y").alias("_maxy"))
    w = (
        Window.orderBy(F.asc("_x"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front_x = (
        gx.withColumn("_prev", F.max("_maxy").over(w))
        .filter(
            F.col("_prev").isNull() | (F.col("_maxy") > F.col("_prev"))
        )
        .select("_x", "_maxy")
    )
    return (
        pts.join(F.broadcast(front_x), on="_x")
        .filter(F.col("_y") == F.col("_maxy"))
        .select(
            F.col(id_col),
            F.col("_x").alias(x_col),
            F.col("_y").alias(y_col),
        )
    )


def ab_proportion_test(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    z_critical_e6: int = 1_959_964,
) -> DataFrame:
    """Two-proportion z-test between exactly two experiment variants —
    the decision gate of every A/B readout: did variant B really
    convert better, or is the delta noise?

    ``variant_col`` must take exactly two values (checked at plan
    level by the output shape: one row); ``success_col`` is 0/1.
    Returns one row (variant_a, variant_b, n_a, x_a, n_b, x_b,
    z_e6, significant) with

        z = (p_a − p_b) / sqrt(p·(1−p)·(1/n_a + 1/n_b)),  p pooled

    computed from EXACT integer counts; the only floats are the final
    ratio/sqrt — identical rounding on any engine (the corr_matrix
    discipline), floored to 1e6 fixed point.  ``significant`` is
    |z| ≥ z_critical (default the two-sided 5% quantile 1.959964).

    Scale shape: ONE partial-agged groupBy(variant) — COUNT-GROUP-BY
    cost over any event volume — then a 1×1 self-product of the
    two-row aggregate.  Nothing else shuffles.
    """
    agg = (
        df.groupBy(F.col(variant_col).alias("_v"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col(success_col).cast("long")).alias("_x"),
        )
    )
    # deterministic pairing without a second scan: min/max variant of
    # the 2-row aggregate via a 1-row reshape
    two = agg.agg(
        F.min_by(F.struct("_n", "_x"), "_v").alias("_a"),
        F.min("_v").alias("variant_a"),
        F.max_by(F.struct("_n", "_x"), "_v").alias("_b"),
        F.max("_v").alias("variant_b"),
        F.count(F.lit(1)).alias("_k"),
    )
    na, xa = F.col("_a._n"), F.col("_a._x")
    nb, xb = F.col("_b._n"), F.col("_b._x")
    pa = xa.cast("double") / na.cast("double")
    pb = xb.cast("double") / nb.cast("double")
    pp = (xa + xb).cast("double") / (na + nb).cast("double")
    z = (pa - pb) / F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / na.cast("double") + F.lit(1.0) / nb.cast("double"))
    )
    z_e6 = F.floor(z * 1_000_000).cast("long")
    return two.filter(F.col("_k") == 2).select(
        "variant_a",
        "variant_b",
        na.alias("n_a"),
        xa.alias("x_a"),
        nb.alias("n_b"),
        xb.alias("x_b"),
        z_e6.alias("z_e6"),
        (F.abs(z_e6) >= F.lit(int(z_critical_e6))).alias("significant"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelers, the standard quality gate when two
    annotation pipelines (a heuristic and a model, or two model
    versions) label the same corpus: raw agreement flatters whenever
    the label distribution is skewed; kappa subtracts the agreement
    two independent raters would reach by luck.

    Exact-integer formulation: with A = # agreeing rows,
    P = sum_c n_a(c) * n_b(c) (the chance-agreement mass), and n rows,

        kappa = (A*n - P) / (n^2 - P)

    — every term an exact integer from two aggregations (one over
    rows, one over the label-pair contingency, both map-side
    combinable; the per-label marginal join is a broadcast of
    |labels| rows).  Output: one row (n, agree, po_e6, pe_e6,
    kappa_e6), all floors of exact-integer ratios.
    """
    pairs = df.select(
        F.col(rater_a).alias("a"), F.col(rater_b).alias("b")
    )
    marg_a = pairs.groupBy("a").agg(F.count("*").alias("na"))
    marg_b = pairs.groupBy("b").agg(F.count("*").alias("nb"))
    chance = (
        marg_a.join(
            F.broadcast(marg_b), marg_a["a"] == marg_b["b"], "inner"
        )
        .agg(F.sum(F.col("na") * F.col("nb")).alias("p"))
    )
    base = pairs.agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(F.col("a") == F.col("b"), 1).otherwise(0)
        ).alias("agree"),
    )
    j = base.crossJoin(F.broadcast(chance)).withColumn(
        "p", F.coalesce(F.col("p"), F.lit(0))
    )
    n = F.col("n").cast("double")
    a = F.col("agree").cast("double")
    p = F.col("p").cast("double")
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("agree").cast("long").alias("agree"),
        F.floor(F.lit(1e6) * a / n).cast("long").alias("po_e6"),
        F.floor(F.lit(1e6) * p / (n * n)).cast("long").alias("pe_e6"),
        F.floor(
            F.lit(1e6) * (a * n - p) / (n * n - p)
        ).cast("long").alias("kappa_e6"),
    )


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two
    categorical columns — the drift/association screen over label
    pairs (source vs language, split vs quality bucket) that the
    contingency table feeds.

    Exact-arithmetic contract: for each cell, (O-E)^2/E is cleared of
    the rational expectation by the identity

        (O - Ra*Cb/n)^2 / (Ra*Cb/n)  =  (O*n - Ra*Cb)^2 / (n*Ra*Cb)

    — every term an exact DECIMAL(38,0) integer; each cell's
    contribution floors to e6 fixed-point BEFORE the exact sum (the
    jackknife discipline), so the statistic is engine-exact.  The sum
    runs over the FULL |A| x |B| grid including structural zeros (a
    zero cell still contributes its expectation).  Output: one row
    (n, n_cells, dof, chi2_e6, cramers_v_e6) with
    dof = (|A|-1)(|B|-1) and Cramer's V = sqrt(chi2 / (n * min(|A|-1,
    |B|-1))) — the [0,1] effect size that makes chi2 comparable
    across table sizes (V derives from the already-floored chi2_e6,
    so it inherits the determinism contract).

    Scale shape: one partial-agged contingency aggregation; marginals
    are two more aggregations of the CELL table (bounded by label
    cardinality, not rows) joined broadcast.
    """
    d38 = "decimal(38,0)"
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast(d38).alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("a").alias("ka"),
        F.countDistinct("b").alias("kb"),
    )
    # The statistic runs over the FULL |A| x |B| grid: cells absent
    # from the observed contingency are structural zeros contributing
    # E = Ra*Cb/n each — dropping them silently understates chi2
    # (caught by the perfect-association ground-truth test).
    grid = ra.crossJoin(F.broadcast(cb))
    j = (
        grid.join(cells, ["a", "b"], "left")
        .withColumn(
            "o", F.coalesce(F.col("o"), F.lit(0).cast("decimal(38,0)"))
        )
        .crossJoin(F.broadcast(tot))
    )
    num = F.col("o") * F.col("n") - F.col("ra") * F.col("cb")
    den = F.col("n") * F.col("ra") * F.col("cb")
    cell_e6 = F.floor(
        F.lit(1e6)
        * (num * num).cast("double")
        / den.cast("double")
    ).cast(d38)
    return (
        j.groupBy("n", "ka", "kb")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(cell_e6).alias("chi2_e6"),
        )
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("n_cells").cast("int").alias("n_cells"),
            ((F.col("ka") - 1) * (F.col("kb") - 1))
            .cast("int")
            .alias("dof"),
            F.col("chi2_e6").cast("long").alias("chi2_e6"),
            F.when(
                F.least(F.col("ka"), F.col("kb")) > 1,
                F.floor(
                    F.lit(1e6)
                    * F.sqrt(
                        F.col("chi2_e6").cast("double")
                        / 1e6
                        / (
                            F.col("n").cast("double")
                            * (
                                F.least(F.col("ka"), F.col("kb")) - 1
                            ).cast("double")
                        )
                    )
                ),
            )
            .cast("long")
            .alias("cramers_v_e6"),
        )
    )


def ols_fit(
    df: DataFrame,
    y_col: str,
    x_cols: Sequence[str],
    scale: int = 1_000_000,
) -> DataFrame:
    """Multiple linear regression (intercept + ``x_cols``) by EXACT
    integer normal equations.

    All inputs must already be integer-valued columns (cast upstream —
    cents, permille, counts); the sufficient statistics X'X and X'y
    are exact ``decimal(38,0)`` sums, so the whole reduction is one
    map-side-combined aggregate with no shuffle beyond the final
    1-row fan-in — the textbook 100 TB shape for regression (the data
    is never iterated, only summed).

    The (p+1)×(p+1) solve runs on the DRIVER over the single collected
    moments row using arbitrary-precision Python integers
    (fraction-free Bareiss/Cramer — no float anywhere), then each
    coefficient is returned as ``floor(scale · det_j / det)``.  A
    driver-side solve over a 1-row aggregate is cardinality-bounded by
    p, not by data size.

    Output: one row — ``n``, then ``beta_<name>_e6`` for intercept and
    every feature.  Degenerate design (det = 0, e.g. a constant
    feature) raises ``ValueError`` rather than returning garbage.
    """
    p = len(x_cols)
    # inputs at decimal(18,0): pairwise products land at (37,0) — still
    # inside Spark's 38-digit cap (a (38,0)·(38,0) product overflows to
    # null under non-ANSI), and the 38-digit SUM headroom bounds scale
    cols = [F.lit(1).cast("decimal(18,0)").alias("_one")] + [
        F.col(c).cast("decimal(18,0)").alias(f"_x{i}")
        for i, c in enumerate(x_cols)
    ]
    y = F.col(y_col).cast("decimal(18,0)")
    base = df.select(*cols, y.alias("_y"))
    aggs = [F.count(F.lit(1)).alias("n")]
    names = ["_one"] + [f"_x{i}" for i in range(p)]
    for i in range(p + 1):
        for j in range(i, p + 1):
            aggs.append(
                F.sum(
                    (F.col(names[i]) * F.col(names[j])).cast(
                        "decimal(38,0)"
                    )
                ).alias(f"m_{i}_{j}")
            )
        aggs.append(
            F.sum(
                (F.col(names[i]) * F.col("_y")).cast("decimal(38,0)")
            ).alias(f"v_{i}")
        )
    row = base.agg(*aggs).collect()[0]

    n = int(row["n"])
    if n == 0:
        # Empty input is degenerate the same way a constant feature
        # is: there is nothing to fit — raise (the established
        # degenerate-design contract below), never emit a NULL row.
        raise ValueError("cannot fit regression on empty input")
    A = [
        [
            int(row[f"m_{min(i, j)}_{max(i, j)}"])
            for j in range(p + 1)
        ]
        for i in range(p + 1)
    ]
    b = [int(row[f"v_{i}"]) for i in range(p + 1)]

    def det(m: list[list[int]]) -> int:
        # exact cofactor expansion; p+1 <= 4 in practice
        k = len(m)
        if k == 1:
            return m[0][0]
        total = 0
        for j in range(k):
            minor = [r[:j] + r[j + 1 :] for r in m[1:]]
            total += (-1) ** j * m[0][j] * det(minor)
        return total

    d = det(A)
    if d == 0:
        raise ValueError("singular design matrix (degenerate features)")
    out_cols, out_vals = ["n"], [n]
    labels = ["intercept"] + list(x_cols)
    for j in range(p + 1):
        Aj = [
            [b[i] if c == j else A[i][c] for c in range(p + 1)]
            for i in range(p + 1)
        ]
        out_cols.append(f"beta_{labels[j]}_e6")
        out_vals.append((scale * det(Aj)) // d)
    spark = df.sparkSession
    return spark.createDataFrame(
        [tuple(out_vals)], ", ".join(f"{c} long" for c in out_cols)
    )


def calibration_report(
    df: DataFrame,
    pred_e6_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Model calibration (reliability diagram + Expected Calibration
    Error) — the standard audit before a learned quality/filter score
    is trusted to gate a training corpus.

    Inputs are integer-e6 predicted probabilities (0..1e6) and a
    boolean label; everything downstream is exact integer arithmetic
    with the house floor-division contract: per bin,
    ``mean_pred_e6 = Σpred // n_b`` and ``obs_rate_e6 = 1e6·pos //
    n_b``; ``ece_e6 = Σ_b n_b·|gap_b| // n``.

    Scale shape: one groupBy on the bin key (≤ ``n_bins`` groups,
    map-side combined), then a broadcast of the 1-row ECE back onto
    the bin rows — no window, no second pass over raw data.

    Output: (bin, n, mean_pred_e6, obs_rate_e6, gap_e6, ece_e6) per
    bin, ordered by bin.
    """
    width = 1_000_000 // n_bins
    binned = df.select(
        F.least(
            F.expr(f"CAST({pred_e6_col} div {width} AS INT)"),
            F.lit(n_bins - 1),
        ).alias("bin"),
        F.col(pred_e6_col).cast("long").alias("pred"),
        F.col(label_col).cast("long").alias("pos"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pred").alias("sum_pred"),
        F.sum("pos").alias("n_pos"),
    )
    bins = per_bin.select(
        "bin",
        "n",
        F.expr("sum_pred div n").alias("mean_pred_e6"),
        F.expr("(1000000 * n_pos) div n").alias("obs_rate_e6"),
        F.expr(
            "abs(sum_pred div n - (1000000 * n_pos) div n)"
        ).alias("gap_e6"),
    )
    ece = bins.agg(
        F.expr("sum(n * gap_e6) div sum(n)").alias("ece_e6")
    )
    return bins.crossJoin(F.broadcast(ece)).orderBy("bin")


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan–Meier survival estimate over (duration, event) rows —
    the churn/retention curve with CENSORING handled correctly
    (a user still active at observation end is not a death; naive
    retention curves get this wrong): at each distinct event time t,

        S(t) = Π_{t' ≤ t} (1 − d_{t'} / n_{t'})

    with d = events at t' and n = subjects still at risk entering t'.

    Distributed shape: ONE partial-agged groupBy collapses the corpus
    to the distinct-duration table (calendar-bounded, never
    row-bounded); risk counts are a cumulative window over that tiny
    table; the product is a per-row ordered fold over the ≤|T| factor
    array — a value-domain quadratic, the grouped_median argument.
    The fold multiplies doubles in ascending-time order, so any
    engine replaying the same ordered product (e.g. DuckDB's windowed
    PRODUCT) reproduces it bit-for-bit; the reported ``survival_e6``
    floors that product.

    Returns (duration, n_risk, n_events, n_censored, survival_e6)
    for durations with ≥1 event or censor, ordered by duration."""
    ev = F.col(event_col).cast("int")
    per_t = df.groupBy(F.col(duration_col).alias("duration")).agg(
        F.sum(ev).alias("n_events"),
        F.sum(1 - ev).alias("n_censored"),
        F.count(F.lit(1)).alias("n_total"),
    )
    w = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    at_risk = per_t.withColumn(
        "n_risk",
        F.sum("n_total").over(
            Window.orderBy("duration").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        - F.coalesce(F.sum("n_total").over(w), F.lit(0)),
    )
    # ordered factor list once (tiny table), then per-row prefix fold
    factors = at_risk.select(
        "duration", "n_risk", "n_events", "n_censored",
        (1.0 - F.col("n_events") / F.col("n_risk")).alias("factor"),
    )
    all_f = factors.agg(
        F.array_sort(
            F.collect_list(F.struct("duration", "factor"))
        ).alias("_all")
    )
    joined = factors.crossJoin(F.broadcast(all_f))
    surv = F.aggregate(
        F.filter(
            F.col("_all"),
            lambda s: s["duration"] <= F.col("duration"),
        ),
        F.lit(1.0),
        lambda acc, s: acc * s["factor"],
    )
    return (
        joined.select(
            "duration", "n_risk", "n_events", "n_censored",
            F.floor(surv * 1000000).cast("long").alias("survival_e6"),
        )
        .orderBy("duration")
    )


def isotonic_calibration(
    df: DataFrame,
    pred_e6_col: str,
    label_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic recalibration (pool-adjacent-violators, Ayer et al.
    1955) of a score→probability map over equi-width score bins — the
    monotone-fit companion of :func:`calibration_report`: where the
    report MEASURES miscalibration, this produces the corrected,
    provably nondecreasing probability per bin that a filter threshold
    can be read off from.

    Exact integer contract: PAV pools bins by rational rate comparison
    (``p₁·n₂ ≥ p₂·n₁`` — no floats), and the output rate is
    ``1e6·pooled_pos // pooled_n``.  Because floor is monotone and the
    PAV value equals the minimax window average ``max_{j≤i} min_{k≥i}
    avg(j,k)``, the floored output is identical to the minimax over
    floored window averages — which is how an engine without a PAV
    primitive (the oracle) replays it exactly.

    Returns (bin, n, n_pos, raw_rate_e6, iso_rate_e6) ordered by bin.

    Scale shape: ONE hash aggregation to ≤ ``n_bins`` rows, PAV over
    the collected bin table on the driver (bounded — same contract as
    the BPE merge table), result rebroadcast as a literal frame."""
    width = 1_000_000 // n_bins
    per_bin = (
        df.select(
            F.least(
                F.expr(f"CAST({pred_e6_col} div {width} AS INT)"),
                F.lit(n_bins - 1),
            ).alias("bin"),
            F.col(label_col).cast("long").alias("pos"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos"))
        .collect()
    )
    rows = sorted((r["bin"], r["n"], r["n_pos"]) for r in per_bin)
    blocks: list[list] = []  # [pooled_pos, pooled_n, [(bin, n, pos)]]
    for b, nb, pb in rows:
        blocks.append([pb, nb, [(b, nb, pb)]])
        while (
            len(blocks) >= 2
            and blocks[-2][0] * blocks[-1][1]
            >= blocks[-1][0] * blocks[-2][1]
        ):
            p2, n2, l2 = blocks.pop()
            p1, n1, l1 = blocks.pop()
            blocks.append([p1 + p2, n1 + n2, l1 + l2])
    out = [
        (b, nb, pb, 1_000_000 * pb // nb, 1_000_000 * bp // bn)
        for bp, bn, members in blocks
        for b, nb, pb in members
    ]
    return df.sparkSession.createDataFrame(
        out,
        "bin int, n bigint, n_pos bigint, "
        "raw_rate_e6 bigint, iso_rate_e6 bigint",
    )


def exact_global_rank(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    out_col: str = "rank",
    n_chunks: int = 64,
) -> tuple[DataFrame, int]:
    """Exact global ROW_NUMBER over the total order (``value_col`` ASC,
    ``tie_col`` ASC) WITHOUT the single-partition sort a bare
    ``Window.orderBy`` pays — the reusable core of the distributed-rank
    pattern (also fused three-way inside :func:`rfm_segments`).

    Phase 1: range-chunk rows by ``n_chunks`` approx-percentile
    boundaries of the value (boundary placement only affects BALANCE,
    never the result: any order-respecting chunking yields the same
    exact ranks).  Phase 2: per-chunk parallel ``row_number`` plus a
    broadcast literal chunk-offset map (the cumulative chunk counts).
    Ranks are exact integers 1..n; ``percent_rank``/``ntile``/``cume``
    are pure arithmetic on (rank, n) downstream.

    Returns ``(df + out_col, n_total)``.  Two bounded driver actions
    during plan build (one percentile probe, one ≤ n_chunks-row count
    table); the output plan itself is shuffle-parallel over chunks.

    ``tie_col`` must be unique per row or the total order (and the
    rank) is nondeterministic under parallel execution.  NULL values
    in ``value_col`` rank first (Spark's ASC NULLS FIRST): they get a
    dedicated chunk ahead of the value chunks, so the CASE-chain
    bucketer's otherwise-branch never misroutes them to the last
    chunk."""
    ps = [i / n_chunks for i in range(1, n_chunks)]
    probe = df.agg(
        F.percentile_approx(F.col(value_col), ps, 500).alias("b")
    ).collect()[0]
    bounds = sorted({b for b in (probe["b"] or []) if b is not None})
    # when-chain, not an array HOF: higher-order functions are
    # interpreted per row (no codegen) — the same boundary-assignment
    # choice as operators/profile.quantile_bins
    chunk = F.when(F.col(value_col).isNull(), F.lit(-1)).otherwise(
        _when_chain_bucket(F.col(value_col), bounds)
    )
    chunked = df.withColumn("_gr_chunk", chunk)
    cnts = (
        chunked.groupBy("_gr_chunk")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    run, offs = 0, {}
    for row in sorted(cnts, key=lambda r: r["_gr_chunk"]):
        offs[row["_gr_chunk"]] = run
        run += row["n"]
    w = Window.partitionBy("_gr_chunk").orderBy(
        F.asc(value_col), F.asc(tie_col)
    )
    out = chunked.withColumn(
        out_col,
        (
            _when_chain_lookup(F.col("_gr_chunk"), offs)
            + F.row_number().over(w)
        ).cast("long"),
    ).drop("_gr_chunk")
    return out, run


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    tie_col: str,
    out_col: str = "qn_value",
) -> DataFrame:
    """Quantile normalization (the microarray/batch-effect-correction
    classic, Bolstad et al. 2003, applied the feature-store way): map
    every group's value distribution onto the GLOBAL distribution by
    rank — row with within-group quantile position p gets the global
    value at position p, so after normalization every group has an
    identical value distribution and cross-group comparisons stop
    measuring batch effects.

    Exact integer contract: within-group position is ROW_NUMBER over
    (value, tie); the target is the global value at rank
    ``ceil(r_g · N / n_g)`` (1..N), looked up by an equi-join against
    the globally ranked table.  The position product ``r·N`` is int64
    (exact to ~3e9 rows; past that split the ceil as
    ``r·(N div n_g) + ceil(r·(N mod n_g) / n_g)`` — decimal division
    is NOT a safe substitute, its rounding can cross the floor).

    Returns the input columns + ``out_col``.

    Scale shape: the global rank is the distributed two-phase rank
    (:func:`exact_global_rank` — never a single-partition window);
    the within-group rank is an ordinarily-partitioned window; the
    lookup is ONE corpus equi-join keyed on rank position."""
    ranked, n = exact_global_rank(
        df.select(value_col, tie_col), value_col, tie_col, out_col="_gpos"
    )
    global_vals = ranked.select(
        F.col("_gpos"), F.col(value_col).alias(out_col)
    )
    wg = Window.partitionBy(group_col).orderBy(
        F.asc(value_col), F.asc(tie_col)
    )
    local = df.select(
        "*",
        F.row_number().over(wg).cast("long").alias("_lr"),
        F.count(F.lit(1))
        .over(Window.partitionBy(group_col))
        .alias("_ng"),
    ).withColumn(
        "_gpos",
        F.expr(f"(_lr * CAST({n} AS BIGINT) + _ng - 1) DIV _ng"),
    )
    return local.join(global_vals, on="_gpos").drop(
        "_gpos", "_lr", "_ng"
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_chunks: int = 64,
) -> DataFrame:
    """Exact 2-D skyline (Pareto frontier, both dimensions MINIMIZED):
    keep every row no other row dominates, where q dominates p iff
    ``q.x ≤ p.x ∧ q.y ≤ p.y`` with strict inequality in at least one
    coordinate.  Coordinate duplicates of a skyline point are all
    kept (they do not dominate each other) — the multi-objective
    shortlist semantics (cheapest-for-their-size products, fastest-
    for-their-cost plans).

    Exact reduction, never all-pairs: (1) collapse to per-x minima
    (a same-x row above its group minimum is dominated by it); (2) an
    x-group survives iff its ``ymin`` is STRICTLY below every smaller
    x-group's ``ymin`` (equal ymin at smaller x dominates: x strictly
    smaller, y equal); that is a prefix-strict-min over the x-sorted
    group table; (3) join survivors back to the input on
    ``(x, y = ymin)``.

    The prefix min uses the distributed two-phase pattern of
    :func:`exact_global_rank` — approx-percentile range chunks, a
    per-chunk running min window, and a broadcast literal chunk-prefix
    map — so no single-partition window ever sees the group table
    (chunk boundaries affect only balance, never the result).  Two
    bounded driver actions at plan build (percentile probe + a
    ≤ n_chunks-row chunk-min table).

    Returns the input rows (all columns) that lie on the skyline.
    To maximize a dimension, pass its negation.
    """
    gx = (
        df.select(F.col(x_col).alias("_sx"), F.col(y_col).alias("_sy"))
        .groupBy("_sx")
        .agg(F.min("_sy").alias("_ymin"))
    )
    ps = [i / n_chunks for i in range(1, n_chunks)]
    probe = gx.agg(
        F.percentile_approx(F.col("_sx"), ps, 500).alias("b")
    ).collect()[0]
    bounds = sorted({b for b in (probe["b"] or []) if b is not None})
    chunked = gx.withColumn(
        "_sk_chunk", _when_chain_bucket(F.col("_sx"), bounds)
    )
    cmins = (
        chunked.groupBy("_sk_chunk")
        .agg(F.min("_ymin").alias("_m"))
        .collect()
    )
    run, prefix = None, {}
    for row in sorted(cmins, key=lambda r: r["_sk_chunk"]):
        prefix[row["_sk_chunk"]] = run
        m = row["_m"]
        run = m if run is None else min(run, m)
    w = (
        Window.partitionBy("_sk_chunk")
        .orderBy(F.asc("_sx"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_min = F.min("_ymin").over(w)
    chunk_prefix: Column = F.lit(None)
    for k, v in prefix.items():
        if v is None:
            continue
        chunk_prefix = F.when(
            F.col("_sk_chunk") == F.lit(k), F.lit(v)
        ).otherwise(chunk_prefix)
    # dominated iff any earlier group's ymin ≤ ours (null prefix =
    # nothing earlier); comparisons stay in the y column's own type —
    # no double cast, exact past 2^53
    dominated = (
        local_min.isNotNull() & (local_min <= F.col("_ymin"))
    ) | (chunk_prefix.isNotNull() & (chunk_prefix <= F.col("_ymin")))
    survivors = (
        chunked.withColumn("_dom", dominated)
        .filter(~F.col("_dom"))
        .select("_sx", "_ymin")
    )
    return df.join(
        survivors,
        on=[
            df[x_col] == survivors["_sx"],
            df[y_col] == survivors["_ymin"],
        ],
    ).drop("_sx", "_ymin")


def _when_chain_bucket(value: Column, bounds: list) -> Column:
    """``count(b in bounds : value > b)`` as a codegen-able CASE chain
    over the sorted boundary literals (bucket 0 = value ≤ bounds[0])."""
    if not bounds:
        return F.lit(0)
    expr = F.lit(len(bounds))
    for i in range(len(bounds) - 1, -1, -1):
        expr = F.when(value <= F.lit(bounds[i]), F.lit(i)).otherwise(expr)
    return expr.cast("int")


def _when_chain_lookup(key: Column, mapping: dict) -> Column:
    """Literal int→int lookup as a CASE chain (codegen) instead of a
    per-row ``create_map`` construction."""
    expr: Column = F.lit(None).cast("bigint")
    for k, v in mapping.items():
        expr = F.when(key == F.lit(k), F.lit(v)).otherwise(expr)
    return expr


def rfm_segments(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 4,
) -> DataFrame:
    """RFM segmentation — the classic behavioral partitioning (Hughes
    1994) every activation/churn pipeline starts from: per user,
    RECENCY (days since last event, against the table's own horizon),
    FREQUENCY (event count) and MONETARY (integer-micros value sum),
    each quantile-bucketed into ``n_tiles`` tiles, concatenated into a
    segment label ('444' = recent, frequent, high-value).

    Determinism: tiles follow NTILE semantics over the TOTAL order
    (metric, user id) — first ``n mod k`` tiles get ``ceil(n/k)`` rows —
    so the output is engine-exact (identical to ``NTILE(k) OVER (ORDER
    BY metric, user)``); recency ranks DESCENDING (most recent =
    highest tile) so all three digits read "bigger is better".

    Returns (user, recency_days, frequency, monetary_micros, r_tile,
    f_tile, m_tile, segment).

    Scale shape: one partial-agged per-user rollup (user-cardinality);
    tiles are NOT computed with a global unpartitioned window (which
    moves every user to one task) but with the distributed exact-rank
    pattern: each metric is range-chunked by approx-percentile
    boundaries (boundary placement only affects balance, never the
    result — ranks are exact under ANY order-respecting chunking),
    ranks are a per-chunk parallel ``row_number`` plus a broadcast
    literal chunk-offset map, and the tile is pure integer arithmetic
    on (rank, n).  Two bounded driver actions during plan build (one
    3-array percentile probe, one ≤ 3·(chunks+1)-row count table);
    at production scale persist the per-user rollup before calling."""
    per_user = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.max(ts_col).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.expr(f"CAST(FLOOR({value_col} * 1000000) AS BIGINT)"))
        .alias("monetary_micros"),
    )
    horizon = df.agg(F.max(ts_col).alias("_h"))
    base = per_user.crossJoin(F.broadcast(horizon)).select(
        "_u",
        F.datediff(F.col("_h"), F.col("_last")).alias("recency_days"),
        "frequency",
        "monetary_micros",
    )

    n_chunks = 64
    ps = [i / n_chunks for i in range(1, n_chunks)]
    # ascending NTILE sort value per metric (recency is DESC → negate)
    metrics = {
        "r": (-F.col("recency_days")).cast("long"),
        "f": F.col("frequency").cast("long"),
        "m": F.col("monetary_micros").cast("long"),
    }
    probe = base.agg(
        *[
            F.percentile_approx(v, ps, 500).alias(d)
            for d, v in metrics.items()
        ]
    ).collect()[0]

    bounds = {
        d: sorted({int(b) for b in (probe[d] or [])}) for d in metrics
    }
    chunked = base.select(
        "*",
        *[
            _when_chain_bucket(v, bounds[d]).alias(f"_c{d}")
            for d, v in metrics.items()
        ],
    )
    cnt_rows = (
        chunked.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            F.col(f"_c{d}").alias("c"),
                        )
                        for d in metrics
                    ]
                )
            ).alias("p")
        )
        .groupBy("p.d", "p.c")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per_dim: dict[str, dict[int, int]] = {d: {} for d in metrics}
    for row in cnt_rows:
        per_dim[row["d"]][row["c"]] = row["n"]
    n_total = sum(per_dim["r"].values())
    offset_maps = {}
    for d in metrics:
        run, offs = 0, {}
        for c in sorted(per_dim[d]):
            offs[c] = run
            run += per_dim[d][c]
        offset_maps[d] = offs

    ranked = chunked
    for d, order in (
        ("r", [F.desc("recency_days"), F.asc("_u")]),
        ("f", [F.asc("frequency"), F.asc("_u")]),
        ("m", [F.asc("monetary_micros"), F.asc("_u")]),
    ):
        w = Window.partitionBy(f"_c{d}").orderBy(*order)
        ranked = ranked.withColumn(
            f"_rank_{d}",
            _when_chain_lookup(F.col(f"_c{d}"), offset_maps[d])
            + F.row_number().over(w),
        )
    q, r = divmod(n_total, n_tiles)
    cut, qq = r * (q + 1), max(q, 1)
    tiles = ranked.select(
        "*",
        *[
            F.expr(
                f"CAST(CASE WHEN _rank_{d} <= {cut}"
                f" THEN ({q} + _rank_{d}) DIV {q + 1}"
                f" ELSE {r} + (_rank_{d} - {cut} + {qq} - 1) DIV {qq}"
                f" END AS INT)"
            ).alias(f"{d}_tile")
            for d in metrics
        ],
    )
    return tiles.select(
        F.col("_u").alias(user_col),
        "recency_days",
        "frequency",
        "monetary_micros",
        "r_tile",
        "f_tile",
        "m_tile",
        F.concat_ws(
            "", F.col("r_tile"), F.col("f_tile"), F.col("m_tile")
        ).alias("segment"),
    )


def density_ratio_outliers(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    scale: int = 64,
    eps_q: int = 4,
    max_cell_neighbors: int = 64,
) -> DataFrame:
    """Density-ratio outlier factor — the integer-exact simplification
    of LOF (Breunig et al. 2000): a point is anomalous when its
    eps-neighborhood is much sparser than its neighbors' are.

        density(p) = 1 + |N(p)|,  N(p) = {o ≠ p : d²(q_p, q_o) ≤ eps_q²}
        factor(p)  = (Σ_{o∈N(p)} density(o)) / (|N(p)| · density(p))

    factor ≈ 1 for interior points, > 1 at density edges/outliers.
    Coordinates quantize to integers (``scale`` MUST be a power of two
    — float × 2^k is exact in IEEE doubles), distances compare in
    exact integer d², and the factor is ONE floor-division of exact
    longs (e6 fixed point) — no float chain anywhere, so any engine
    replays it bit-for-bit.  Points with an empty neighborhood report
    ``factor_e6 = -1`` (no density to compare against).

    Scale shape: the eps-ball search is a CELL equi-join, never a
    distance self-join — cells of side ``eps_q`` guarantee every
    neighbor lies in the 3×3 cell ring (the grid_density_clusters
    trick).  The NEIGHBOR side of the join is capped per cell at the
    ``max_cell_neighbors`` lowest ids (one partitioned row_number —
    the minhash_lsh_pairs ``max_bucket_size`` discipline), so a
    degenerate cell contributes |cell|·cap candidate pairs instead of
    |cell|²; below the cap the result is EXACT (every oracle-scale
    cell is).  Above the cap the semantics are precisely: |N(p)| is
    the deterministic capped-SAMPLE neighbor count (neighbors drawn
    only from each cell's ``max_cell_neighbors`` lowest-id pool), and
    a sampled neighbor o whose OWN pool-visible neighborhood is empty
    (every one of o's eps-neighbors was capped out of its cell pool)
    contributes the provable lower-bound density 2 — o demonstrably
    has at least the observing point p in range, so density(o) =
    1 + |N(o)| ≥ 2.  This keeps every point with a nonzero sampled
    neighbor count in the output with its count intact (a plain inner
    join here would silently drop such points — round-12 fix).
    Candidate pairs are cut (``cut_lineage``) once and reused for both
    aggregations (neighbor counts, then neighbor-density sums), so
    the quadratic term is never materialized twice.
    """
    if scale & (scale - 1):
        raise ValueError("scale must be a power of two (exact binning)")
    pts = points.select(
        F.col(id_col).alias("id"),
        F.floor(F.col(x_col).cast("double") * scale)
        .cast("long")
        .alias("qx"),
        F.floor(F.col(y_col).cast("double") * scale)
        .cast("long")
        .alias("qy"),
    )
    cell = lambda c: F.floor(F.col(c) / eps_q).cast("long")  # noqa: E731
    probe = pts.select(
        "id", "qx", "qy", cell("qx").alias("cx"), cell("qy").alias("cy")
    )
    wcap = Window.partitionBy("cx", "cy").orderBy("id")
    nbr = (
        probe.withColumn("_rn", F.row_number().over(wcap))
        .filter(F.col("_rn") <= max_cell_neighbors)
        .select(
            F.col("id").alias("ib"),
            F.col("qx").alias("bx"),
            F.col("qy").alias("by"),
            F.col("cx").alias("ncx"),
            F.col("cy").alias("ncy"),
        )
    )
    shifted = None
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            s = probe.select(
                F.col("id").alias("ia"),
                F.col("qx").alias("ax"),
                F.col("qy").alias("ay"),
                (F.col("cx") + dx).alias("ncx"),
                (F.col("cy") + dy).alias("ncy"),
            )
            shifted = s if shifted is None else shifted.unionByName(s)
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = (
        shifted.join(nbr, on=["ncx", "ncy"])
        .filter((F.col("ia") != F.col("ib")) & (d2 <= eps_q * eps_q))
        .select("ia", "ib")
        .transform(cut_lineage)
    )
    dens = pairs.groupBy("ia").agg(
        (F.count(F.lit(1)) + 1).alias("dens"),
        F.count(F.lit(1)).alias("n_nb"),
    )
    sums = (
        pairs.join(
            dens.select(F.col("ia").alias("ib"), F.col("dens").alias("db")),
            on="ib",
            how="left",
        )
        .groupBy("ia")
        .agg(F.sum(F.coalesce(F.col("db"), F.lit(2))).alias("sd"))
    )
    scored = dens.join(sums, on="ia", how="left")
    out = pts.select("id").join(
        scored.select(
            F.col("ia").alias("id"), "n_nb", "dens",
            (F.lit(1000000) * F.col("sd"))
            .cast("long")
            .alias("_num"),
        ),
        on="id",
        how="left",
    )
    return out.select(
        F.col("id"),
        F.coalesce(F.col("n_nb"), F.lit(0)).cast("long").alias("n_neighbors"),
        F.coalesce(F.col("dens"), F.lit(1)).cast("long").alias("density"),
        F.when(F.col("n_nb").isNull(), F.lit(-1))
        .otherwise(F.expr("_num div (n_nb * dens)"))
        .cast("long")
        .alias("factor_e6"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information between two categorical columns — the
    information-theoretic association screen (feature selection,
    redundancy pruning) that complements ``chi2_independence`` on the
    same contingency table: MI weights cells by their probability
    mass rather than squared deviation, so it ranks features for a
    classifier instead of testing a null.

    Per observed cell (a, b):

        mi_cell = (o / n) · ln( (o · n) / (ra · cb) )

    Zero cells contribute exactly 0 (lim p→0 of p·ln p) and are
    omitted — unlike chi2 the structural-zero grid adds nothing.
    Output: one row per observed cell (a, b, o, mi_e9 = e9 floor of
    the contribution); summing ``mi_e9`` gives total MI in nats.
    Counts stay exact longs up to the final double ratio, and both
    factors are computed in the same expression shape the SQL oracle
    uses (floored fixed point), so the result is engine-portable.

    Scale shape: one partial-agged contingency aggregation; marginals
    are two aggregations of the CELL table (bounded by label
    cardinality) joined back broadcast.  Raw rows are touched once.
    """
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    ra = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = cells.agg(F.sum("o").alias("n"))
    j = (
        cells.join(F.broadcast(ra), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("o").cast("double") / F.col("n").cast("double")
    ratio = (F.col("o") * F.col("n")).cast("double") / (
        F.col("ra") * F.col("cb")
    ).cast("double")
    return j.select(
        "a",
        "b",
        F.col("o").cast("long").alias("o"),
        F.floor(F.lit(1000000000.0) * (p * F.log(ratio)))
        .cast("long")
        .alias("mi_e9"),
    )


def pca_project_2d(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    scale: int = 64,
) -> DataFrame:
    """Project 2-D points onto their principal axis — closed-form PCA
    for the embedding-preprocessing case (whiten/rotate a pair of
    feature dimensions) where the 2×2 eigenproblem needs no iteration:

        S_xx = n·Σx² − (Σx)²   (and S_xy, S_yy alike — n²-scaled
                                covariances, EXACT integers after the
                                power-of-two quantization)
        λ1 − c ∝ (a − c) + √((a−c)² + 4b²)   →  v1 = (that, 2b)

    Coordinates quantize at ``scale`` (power of two — exact in IEEE),
    so every moment is an exact DECIMAL(38,0) integer; doubles appear
    only in the final √ / normalize / project expressions, which both
    engines evaluate in the same shape.  Output: one row per point —
    (id, pc1_e3 = e3-floored signed distance along the principal axis
    from the centroid, var_ratio_e6 = e6-floored λ1/(λ1+λ2), the
    variance the axis explains).  Degenerate cases are CASE-pinned:
    b = 0 with a ≤ c picks the y-axis, a zero-variance cloud projects
    to 0.

    Scale shape: ONE map-side-combined moment aggregation (5 sums +
    count) → a 1-row eigen solve broadcast back onto the scan → pure
    map-stage projection.  No shuffle of corpus rows, no iteration.
    """
    if scale & (scale - 1):
        raise ValueError("scale must be a power of two (exact binning)")
    d38 = "decimal(38,0)"
    pts = points.select(
        F.col(id_col).alias("id"),
        F.floor(F.col(x_col).cast("double") * scale)
        .cast("long")
        .alias("qx"),
        F.floor(F.col(y_col).cast("double") * scale)
        .cast("long")
        .alias("qy"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("qx").cast(d38).alias("sx"),
        F.sum("qy").cast(d38).alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).cast(d38).alias("sxx"),
        F.sum(F.col("qx") * F.col("qy")).cast(d38).alias("sxy"),
        F.sum(F.col("qy") * F.col("qy")).cast(d38).alias("syy"),
    )
    a = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    b = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    c = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    eig = m.select(
        "n", "sx", "sy",
        a.alias("a"), b.alias("b"), c.alias("c"),
        F.sqrt(
            ((a - c) * (a - c) + 4 * b * b).cast("double")
        ).alias("root"),
    )
    vx = F.when(
        (F.col("b") == 0) & (F.col("a") <= F.col("c")), F.lit(0.0)
    ).otherwise((F.col("a") - F.col("c")).cast("double") + F.col("root"))
    vy = F.when(
        (F.col("b") == 0) & (F.col("a") <= F.col("c")), F.lit(1.0)
    ).otherwise(2.0 * F.col("b").cast("double"))
    tr = (F.col("a") + F.col("c")).cast("double")
    planed = eig.select(
        "n", "sx", "sy",
        vx.alias("vx"), vy.alias("vy"),
        F.sqrt(vx * vx + vy * vy).alias("norm"),
        F.when(tr > 0, F.floor(F.lit(1000000.0) * ((tr + F.col("root")) / (2.0 * tr))))
        .otherwise(F.lit(1000000))
        .cast("long")
        .alias("var_ratio_e6"),
    )
    j = pts.crossJoin(F.broadcast(planed))
    proj = (
        (
            F.col("qx").cast(d38) * F.col("n") - F.col("sx")
        ).cast("double")
        * F.col("vx")
        + (
            F.col("qy").cast(d38) * F.col("n") - F.col("sy")
        ).cast("double")
        * F.col("vy")
    ) / (F.col("n").cast("double") * F.col("norm"))
    return j.select(
        "id",
        F.when(F.col("norm") > 0, F.floor(F.lit(1000.0) * proj))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("pc1_e3"),
        "var_ratio_e6",
    )


def ips_policy_value(
    df: DataFrame,
    action_col: str,
    reward_col: str,
) -> DataFrame:
    """Offline policy evaluation by inverse-propensity scoring
    (Horvitz-Thompson): estimate what a UNIFORM target policy over
    the observed actions would earn from logs collected under the
    empirical logging policy — the counterfactual "what if we served
    every action equally" readout of bandit/recsys logs.

        π_b(a) = n_a / N          (empirical logging propensity)
        V̂     = (1/N) Σ_i r_i · (1/K) / π_b(a_i)
              = Σ_a  mean_reward(a) / K

    Rewards quantize to integer micros; each action's IPS
    contribution is ONE exact long floor-division (the
    floor-before-sum discipline), so the estimate is
    engine-replayable.  Output: one row per action — (action, n,
    propensity_e9, mean_reward_micros, ips_contrib_micros); summing
    ``ips_contrib_micros`` gives V̂ in micros, and comparing it with
    the propensity-weighted logged mean diagnoses how much the
    logging policy's skew flattered high-traffic actions.

    Scale shape: ONE partial-agged aggregation per action (shuffle
    volume = action cardinality), a 1-row rollup for N and K joined
    back broadcast — raw rows are touched exactly once.
    """
    base = df.select(
        F.col(action_col).alias("action"),
        F.floor(F.col(reward_col).cast("double") * 1000000)
        .cast("long")
        .alias("_rm"),
    )
    per = base.groupBy("action").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_rm").alias("sum_rm"),
    )
    tot = per.agg(
        F.sum("n").alias("n_total"), F.count(F.lit(1)).alias("k")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "action",
        F.col("n").cast("long").alias("n"),
        _truncdiv("1000000000 * n", "n_total")
        .cast("long")
        .alias("propensity_e9"),
        _truncdiv("sum_rm", "n").cast("long").alias("mean_reward_micros"),
        _truncdiv("sum_rm", "k * n")
        .cast("long")
        .alias("ips_contrib_micros"),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimate over (duration, event)
    rows — Kaplan–Meier's additive sibling (H(t) ≈ −ln S(t)): at each
    distinct event time t,

        H(t) = Σ_{t' ≤ t}  d_{t'} / n_{t'}

    with d = events and n = subjects at risk entering t'.  Censoring
    is handled identically to :func:`kaplan_meier` (censored rows
    leave the risk set without contributing a hazard step).

    Unlike KM's ordered float product, every hazard step here floors
    to an e9 INTEGER (one exact long division) and the cumulative sum
    adds integers — no float fold at all, so the curve is
    engine-exact under any accumulation order (floor-before-sum).

    Distributed shape: same as KM — one partial-agged groupBy to the
    distinct-duration table (calendar-bounded), cumulative windows
    over that tiny table only.  Returns (duration, n_risk, n_events,
    n_censored, hazard_step_e9, cum_hazard_e9) ordered by duration.
    """
    ev = F.col(event_col).cast("int")
    per_t = df.groupBy(F.col(duration_col).alias("duration")).agg(
        F.sum(ev).alias("n_events"),
        F.sum(1 - ev).alias("n_censored"),
        F.count(F.lit(1)).alias("n_total"),
    )
    w_prev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_run = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = per_t.withColumn(
        "n_risk",
        F.sum("n_total").over(w_all)
        - F.coalesce(F.sum("n_total").over(w_prev), F.lit(0)),
    ).withColumn(
        "hazard_step_e9",
        F.expr("(1000000000 * n_events) div n_risk"),
    )
    return stepped.select(
        "duration",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.col("hazard_step_e9").cast("long").alias("hazard_step_e9"),
        F.sum("hazard_step_e9")
        .over(w_run)
        .cast("long")
        .alias("cum_hazard_e9"),
    ).orderBy("duration")


def transition_entropy(
    df: DataFrame,
    user_col: str = "user_id",
    action_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-state transition entropy of the first-order Markov chain
    over per-user event streams: for each current action a,

        H(next | a) = − Σ_b  p(b|a) · ln p(b|a)

    plus that state's share of all transitions — the predictability
    readout of behavioral logs (H ≈ 0: deterministic next step, a
    funnel; H ≈ ln K: anything can follow, exploratory or bot-random).
    Weighting H(next|a) by the share column gives the chain's
    conditional entropy rate.

    Per-(a,b) terms floor to e9 integers BEFORE the per-state sum
    (floor-before-sum — counts are exact, the single ln/product per
    cell is the only double, same shape in the oracle), so every row
    is engine-exact.  Output: (action, n_out, n_next_actions,
    entropy_e9, share_e9) ordered by action.

    Scale shape: ONE user-keyed lead window (the sessionize shuffle)
    → pair hash-agg bounded by |actions|² → per-action rollups over
    the tiny matrix.  Raw events shuffle once.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.select(
            F.col(action_col).alias("action"),
            F.lead(action_col).over(w).alias("next_action"),
        )
        .filter(F.col("next_action").isNotNull())
        .groupBy("action", "next_action")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_a = pairs.groupBy("action").agg(
        F.sum("c").alias("na"),
        F.count(F.lit(1)).alias("n_next_actions"),
    )
    tot = per_a.agg(F.sum("na").alias("n_total"))
    p = F.col("c").cast("double") / F.col("na").cast("double")
    cell = pairs.join(F.broadcast(per_a), on="action").select(
        "action",
        "na",
        "n_next_actions",
        F.floor(F.lit(-1000000000.0) * (p * F.log(p)))
        .cast("long")
        .alias("term_e9"),
    )
    return (
        cell.groupBy("action", "na", "n_next_actions")
        .agg(F.sum("term_e9").alias("entropy_e9"))
        .crossJoin(F.broadcast(tot))
        .select(
            "action",
            F.col("na").cast("long").alias("n_out"),
            F.col("n_next_actions").cast("long").alias("n_next_actions"),
            F.col("entropy_e9").cast("long").alias("entropy_e9"),
            F.expr("(1000000000 * na) div n_total")
            .cast("long")
            .alias("share_e9"),
        )
    )


def cuped_adjust(
    users: DataFrame,
    x_col: str,
    y_col: str,
    variant_col: str,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): adjust each
    experiment unit's metric by its PRE-period covariate,

        θ      = cov(x, y) / var(x)          (pooled, both variants)
        ŷ_v    = mean_v(y) − θ·(mean_v(x) − mean(x))

    — the standard way to shrink A/B confidence intervals with data
    you already have (the pre-period behaviour soaks up between-user
    variance that would otherwise mask the treatment effect).

    ``x_col``/``y_col`` must be integer-valued (quantize upstream —
    micros here): every moment is then an exact DECIMAL(38,0) sum, θ
    and the adjusted means are the only doubles, computed in the same
    expression shape by any engine, e6/e9-floored.  Output: one row
    per variant — (variant, n_units, mean_y_micros [exact div],
    mean_adj_e6, theta_e9).

    Scale shape: ONE pooled moment aggregation + ONE per-variant
    aggregation over the unit table (already collapsed from raw
    events upstream), a broadcast cross join of the two 1-row/`V`-row
    results — nothing above unit cardinality shuffles.
    """
    d38 = "decimal(38,0)"
    base = users.select(
        F.col(variant_col).alias("variant"),
        F.col(x_col).cast(d38).alias("x"),
        F.col(y_col).cast(d38).alias("y"),
    )
    pooled = base.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    per_v = base.groupBy("variant").agg(
        F.count(F.lit(1)).alias("nv"),
        F.sum("x").alias("sxv"),
        F.sum("y").alias("syv"),
    )
    theta = (
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    adj = (
        F.col("syv").cast("double") / F.col("nv").cast("double")
    ) - theta * (
        F.col("sxv").cast("double") / F.col("nv").cast("double")
        - F.col("sx").cast("double") / F.col("n").cast("double")
    )
    return per_v.crossJoin(F.broadcast(pooled)).select(
        "variant",
        F.col("nv").cast("long").alias("n_units"),
        _truncdiv("CAST(syv AS DECIMAL(38,0))", "CAST(nv AS DECIMAL(38,0))")
        .cast("long")
        .alias("mean_y_micros"),
        F.floor(adj).cast("long").alias("mean_adj_micros"),
        F.floor(F.lit(1000000000.0) * theta).cast("long").alias("theta_e9"),
    )


def market_concentration(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per group: with each
    entity's share of the group total in exact e6 fixed point,

        share_e6(i) = (1e6 · vᵢ) ÷ Σv        (integer floor-division)
        hhi_e6      = (Σᵢ share_e6(i)²) ÷ 1e6

    — 1e6 = monopoly, 1e6/n = perfectly even.  The antitrust /
    portfolio-concentration readout, and in a training-data pipeline
    the "is one source dominating this slice" diagnostic.  ``value_col``
    must already be integer-valued (quantize upstream — micros here);
    every step is exact long arithmetic, so any engine replays it
    bit-for-bit.  Entities with non-positive group totals are not
    defined and must be filtered upstream.

    Scale shape: ONE partial-agged (group, entity) aggregation →
    ONE group-total rollup joined back (hash, on group) → ONE final
    per-group sum — shuffle volume is entity cardinality, raw rows
    are touched once.  Returns (group, n_entities, total,
    top_share_e6, hhi_e6).
    """
    per = df.groupBy(
        F.col(group_col).alias("grp"), F.col(entity_col).alias("ent")
    ).agg(F.sum(F.col(value_col).cast("long")).alias("val"))
    tot = per.groupBy("grp").agg(
        F.sum("val").alias("total"), F.count(F.lit(1)).alias("n_entities")
    )
    # multiplications go through DECIMAL(38,0): at corpus scale
    # 1e6 · val and Σ share² overflow int64 long before the QUOTIENTS
    # (≤ 1e6 / ≤ 1e12) do, and Spark's long arithmetic wraps silently
    shares = per.join(tot, on="grp").select(
        "grp",
        "n_entities",
        "total",
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * CAST(val AS DECIMAL(38,0)))"
            " div CAST(total AS DECIMAL(38,0))"
        ).alias("share_e6"),
    )
    return (
        shares.groupBy("grp", "n_entities", "total")
        .agg(
            F.max("share_e6").cast("long").alias("top_share_e6"),
            F.expr(
                "CAST(sum(CAST(share_e6 AS DECIMAL(38,0))"
                " * CAST(share_e6 AS DECIMAL(38,0))) div 1000000 AS BIGINT)"
            ).alias("hhi_e6"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_entities").cast("long").alias("n_entities"),
            F.col("total").cast("long").alias("total"),
            "top_share_e6",
            "hhi_e6",
        )
    )


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
) -> DataFrame:
    """Two-proportion z-test — the A/B readout for binary outcomes
    (conversion, click-through):

        z = (p̂₁ − p̂₂) / √( p̂(1−p̂) · (1/n₁ + 1/n₂) )

    with p̂ the pooled rate.  ``success_col`` must be 0/1 (cast
    upstream); the input must contain EXACTLY two groups (raises
    otherwise — a k-group test is chi-square, a different statistic).
    Counts are exact longs from one aggregation; z is the only double,
    computed in the oracle-mirrored expression shape and e6-floored.
    Group order is lexicographic (a = smaller key), so the sign is
    deterministic.

    Scale shape: ONE partial-agged two-row aggregation over raw rows,
    then a 2-row pivot via conditional aggregation — nothing else
    touches the data.  Returns one row: (group_a, group_b, n_a, x_a,
    n_b, x_b, rate_a_e6, rate_b_e6, z_e6).
    """
    per = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(success_col).cast("long")).alias("x"),
        )
        .transform(cut_lineage, eager=False)
    )
    n_groups = per.count()
    if n_groups != 2:
        raise ValueError(
            f"two_proportion_ztest needs exactly 2 groups, got {n_groups}"
        )
    wide = per.agg(
        F.min("g").alias("ga"),
        F.max("g").alias("gb"),
        F.min_by(F.col("n"), F.col("g")).alias("na"),
        F.min_by(F.col("x"), F.col("g")).alias("xa"),
        F.max_by(F.col("n"), F.col("g")).alias("nb"),
        F.max_by(F.col("x"), F.col("g")).alias("xb"),
    )
    return wide.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        F.col("na").cast("long").alias("n_a"),
        F.col("xa").cast("long").alias("x_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("xb").cast("long").alias("x_b"),
        F.expr("(1000000 * xa) div na").cast("long").alias("rate_a_e6"),
        F.expr("(1000000 * xb) div nb").cast("long").alias("rate_b_e6"),
        F.expr(
            """CAST(FLOOR(1000000.0 * (
                 (CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / SQRT(
                     (CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                     * (1.0 - CAST(xa + xb AS DOUBLE)
                              / CAST(na + nb AS DOUBLE))
                     * (1.0 / CAST(na AS DOUBLE)
                        + 1.0 / CAST(nb AS DOUBLE))))) AS BIGINT)"""
        ).alias("z_e6"),
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA F statistic — "do these k groups share a mean?"
    (the k-group generalization of the two-sample tests; pair with
    :func:`two_proportion_ztest` / mann_whitney for the full readout).
    ``value_col`` must be integer-valued (quantize upstream — micros).

    Sum decomposition in EXACT integer arithmetic: with per-group
    exact DECIMAL(38,0) moments (n_g, s_g = Σx, ss_g = Σx²),

        A     = Σ_g (s_g² ÷ n_g)        (integer floor per group)
        SSB   = A − S² ÷ n
        SSW   = SS − A
        F_e6  = floor(1e6 · (SSB/(k−1)) / (SSW/(n−k)))

    The per-group floor makes every partial sum an exact integer, so
    the statistic is partial-agg-order-free (a raw float Σ s_g²/n_g
    would depend on accumulation order); the floors bias A by < k
    micros² — documented, identical in the oracle, and negligible
    against micros-squared magnitudes.  F is the only double.

    Quotients here EXCEED int64 (s_g² ÷ n_g is micros²-scaled), so
    the floor-divisions go through :func:`_dec_floordiv`, never
    Spark's ``div`` — ``div`` returns a LONG and silently WRAPS any
    quotient past 2^63 (verified: DECIMAL(38,0) div 1 of a 23-digit
    value returns garbage).

    Scale shape: ONE partial-agged per-group aggregation (shuffle =
    group cardinality) → ONE k-row rollup.  Returns one row:
    (n_groups, n_rows, ssb_units, ssw_units, f_e6).
    """
    d38 = "decimal(38,0)"
    per = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col(value_col).cast(d38)).alias("s"),
        F.sum(
            F.col(value_col).cast(d38) * F.col(value_col).cast(d38)
        ).alias("ss"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast(d38).alias("k"),
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.sum("ss").alias("sst"),
        F.sum(_dec_truncdiv("s * s", "n")).alias("a"),
    )
    # sums of squares are micros² (can exceed int64) — report them
    # floor-divided back to whole units² (exact integers, long-safe)
    ssb = "(a - " + _DEC_FLOORDIV_SQL.format(num="st * st", den="nt") + ")"
    return tot.select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("nt").cast("long").alias("n_rows"),
        F.expr(
            "CAST("
            + _DEC_FLOORDIV_SQL.format(num=ssb, den="1000000000000")
            + " AS BIGINT)"
        ).alias("ssb_units"),
        F.expr(
            "CAST("
            + _DEC_FLOORDIV_SQL.format(num="(sst - a)", den="1000000000000")
            + " AS BIGINT)"
        ).alias("ssw_units"),
        F.expr(
            f"""CAST(FLOOR(1000000.0 *
                 (CAST({ssb} AS DOUBLE)
                  / CAST(k - 1 AS DOUBLE))
                 / (CAST(sst - a AS DOUBLE)
                    / CAST(nt - k AS DOUBLE))) AS BIGINT)"""
        ).alias("f_e6"),
    )
