"""Stateful streaming operators beyond built-in windows (north-star
extension; the reference has no streaming surface, SURVEY.md §2.10).

Two shapes a large-scale training-data pipeline needs on streams:

- ``streaming_dedup``: exact dedup over an unbounded stream with bounded
  state — ``dropDuplicatesWithinWatermark`` keys state on the content
  hash and garbage-collects entries older than the watermark, so state
  is O(arrival rate × watermark), not O(corpus).
- ``running_user_stats``: a custom per-key stateful operator via
  ``applyInPandasWithState`` — the escape hatch for aggregations the
  built-in windows can't express (here: lifetime running count/sum with
  idle-timeout flush).  State lives in the state store (RocksDB-backed
  on a real cluster), one Arrow batch per key-group per trigger.

Both are written so the SAME function works under ``spark.readStream``;
tests drive them with ``trigger(availableNow=True)`` into a memory sink.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_dedup(
    events: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact streaming dedup with bounded state.

    Emits the first row per key; duplicates arriving within ``watermark``
    of the original are dropped; state for keys older than the watermark
    is evicted.  (Batch DataFrames work too — Spark treats it as a plain
    dropDuplicates.)
    """
    if events.isStreaming:
        events = events.withWatermark(ts_col, watermark)
        return events.dropDuplicatesWithinWatermark(list(key_cols))
    return events.dropDuplicates(list(key_cols))


#: Output schema of running_user_stats.
_USER_STATS_SCHEMA = "user_id long, n_events long, total_value double"
#: State schema: running (count, sum).
_USER_STATE_SCHEMA = "n long, total double"


def _update_user_stats(
    key: tuple, batches: Iterator, state: GroupState
) -> Iterator:
    """Per-key update: fold each micro-batch into (count, sum) state and
    emit the updated running totals; flush state on idle timeout."""
    import pandas as pd

    if state.hasTimedOut:
        n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    state.setTimeoutDuration(60_000)
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful aggregation: lifetime running (count, sum(value))
    per user via ``applyInPandasWithState``.

    Scale: state is one small tuple per user in the state store; each
    trigger touches only the keys present in the micro-batch.  Use this
    shape when built-in windows can't express the semantics (running
    lifetime totals, custom eviction, ML feature state).
    """
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=_USER_STATS_SCHEMA,
            stateStructType=_USER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def streaming_windowed_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    keys: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window counts — the canonical late-data-safe
    streaming aggregation: rows later than ``watermark`` are dropped and
    window state is garbage-collected past it."""
    w = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        w.groupBy(F.window(F.col(ts_col), window_duration).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            *keys,
            "n_events",
        )
    )


def streaming_upsert_sink(
    stream: DataFrame,
    target_path: str,
    key_cols: tuple[str, ...],
    order_col: str,
    checkpoint_dir: str,
    trigger_available_now: bool = False,
):
    """Stream → CDC-upserted table: each micro-batch is MERGEd into
    ``target_path`` (latest ``order_col`` per key wins) via
    ``foreachBatch`` + :func:`~..sinks.merge_upsert`.

    This is the standard lakehouse streaming-merge shape: the batch side
    of ``foreachBatch`` is a plain DataFrame, so the whole batch-MERGE
    machinery (window ranking, staged-snapshot swap) is reused verbatim
    — one code path for batch backfill AND streaming upkeep.

    Exactly-once: Spark checkpoints the batch id; merge_upsert is
    idempotent for a replayed batch (re-merging identical rows is a
    no-op), which is the standard recipe for end-to-end exactly-once on
    a non-transactional sink.

    State: none in the streaming engine itself — dedup-by-key happens in
    the per-batch merge, so there is no unbounded stream state; the
    target table is the state.
    """
    from ..sinks import merge_upsert

    def _merge_batch(batch: DataFrame, _batch_id: int) -> None:
        if batch.isEmpty():
            return
        # Intra-batch duplicates need no pre-dedup: the merge window
        # ranks them together and keeps the greatest order_col.
        spark = batch.sparkSession
        merge_upsert(
            spark,
            target_path,
            batch,
            key_cols=list(key_cols),
            order_col=order_col,
        )

    writer = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: Output schema of running_user_stats_exact (integer micros —
#: order-independent sums, so the result is oracle-exact).
_USER_STATS_EXACT_SCHEMA = "user_id long, n_events long, value_micros long"
#: Key buckets of running_user_stats_exact.  The checkpointed state is
#: keyed by bucket, so this is a constant: changing it (or letting a
#: session conf change it) would orphan every existing checkpoint.
_USER_STATS_BUCKETS = 32
#: State of one bucket: its users as parallel arrays (a null user_id is
#: a null entry).
_USER_BUCKET_STATE_SCHEMA = (
    "users array<long>, n array<long>, micros array<long>"
)


def _fold_user_bucket(
    key: tuple, batches: Iterator, state: GroupState
) -> Iterator:
    """Fold one key bucket's micro-batch rows into its users' running
    (count, Σ micros) and emit one row per user seen in this trigger.

    Input rows are ``(_null, _uid, _vm)``: a null-user_id flag, the
    user id with nulls replaced by 0, and the value in integer micros.
    The bucket's stored users enter the fold as pre-aggregated rows:
    one ``pd.factorize`` (a hash ``unique``) and two ``np.add.at``
    merge state and batch.  The ids are a nullable array, so a null
    user_id is its own user, as under ``groupBy``; int64 alone cannot
    hold it.  int64 additions commute, so the running totals are
    identical no matter how rows split across micro-batches or
    partitions."""
    import numpy as np
    import pandas as pd

    pdf = pd.concat(list(batches), ignore_index=True)
    users, n, micros = state.get if state.exists else ([], [], [])
    ids = pd.arrays.IntegerArray(
        np.concatenate([
            np.array([u or 0 for u in users], dtype=np.int64),
            pdf["_uid"].to_numpy(np.int64),
        ]),
        np.concatenate([
            np.array([u is None for u in users], dtype=bool),
            pdf["_null"].to_numpy(bool),
        ]),
    )
    inv, keys = pd.factorize(ids, use_na_sentinel=False)
    tot_n = np.zeros(len(keys), dtype=np.int64)
    tot_m = np.zeros(len(keys), dtype=np.int64)
    np.add.at(tot_n, inv, np.concatenate(
        [np.asarray(n, dtype=np.int64), np.ones(len(pdf), dtype=np.int64)]
    ))
    np.add.at(tot_m, inv, np.concatenate(
        [np.asarray(micros, dtype=np.int64), pdf["_vm"].to_numpy(np.int64)]
    ))
    state.update((
        keys.to_numpy(object, na_value=None).tolist(),
        tot_n.tolist(),
        tot_m.tolist(),
    ))
    touched = np.unique(inv[len(users):])
    yield pd.DataFrame({
        "user_id": keys[touched],
        "n_events": tot_n[touched],
        "value_micros": tot_m[touched],
    })


def running_user_stats_exact(events: DataFrame) -> DataFrame:
    """Lifetime running (count, Σ floor(value·10⁶)) per user via
    ``applyInPandasWithState`` — the oracle-verifiable twin of
    :func:`running_user_stats`: because state is integer, the LAST
    update per user (select max, both fields are monotone) equals the
    batch GROUP BY exactly, which is what lets a driver check a custom
    stateful operator against plain SQL.  No timeout: state is never
    flushed mid-run, so every emitted row is a true prefix total.  A
    null value counts as a row and adds 0 micros.

    Output is update mode, one row per (user, trigger), but the state
    is grouped by key bucket, ``pmod(xxhash64(user_id),
    _USER_STATS_BUCKETS)``, not by user: each bucket stores its users
    as parallel arrays and :func:`_fold_user_bucket` folds a whole
    bucket's rows with numpy.  The trade-off: a trigger makes at most
    ``_USER_STATS_BUCKETS`` (32) Python calls instead of one per
    touched user, and each touched bucket rewrites its whole state
    row, about users ÷ 32 entries, even if only one of its users
    changed.  That pays when a trigger touches most users (a drain, a
    backfill); a stream whose triggers touch few users among very many
    rewrites more state than it folds.
    """
    # One SQL projection: a single py4j call instead of a Column tree.
    prepared = events.selectExpr(
        "user_id IS NULL AS _null",
        "CAST(coalesce(user_id, 0) AS BIGINT) AS _uid",
        "coalesce(CAST(floor(value * 1000000) AS BIGINT), 0) AS _vm",
        f"pmod(xxhash64(user_id), {_USER_STATS_BUCKETS}) AS _bucket",
    )
    return prepared.groupBy("_bucket").applyInPandasWithState(
        _fold_user_bucket,
        outputStructType=_USER_STATS_EXACT_SCHEMA,
        stateStructType=_USER_BUCKET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: Output/state schemas of running_topk_events.
_TOPK_OUT_SCHEMA = (
    "user_id long, rank int, event_id long, value_micros long, "
    "n_seen long"
)
_TOPK_STATE_SCHEMA = "ids array<long>, vms array<long>, n_seen long"
_TOPK_K = 3


def _update_topk(
    key: tuple, batches: Iterator, state: GroupState
) -> Iterator:
    """Per-key top-k maintenance: merge the micro-batch rows into the
    stored top-k list ordered by (value_micros DESC, event_id ASC) —
    a deterministic total order, so the survivors are independent of
    batch splits — and emit the CURRENT top-k with the monotone
    ``n_seen`` counter (the max-n_seen emission per key is the final
    state a batch oracle can check)."""
    import pandas as pd

    ids, vms, n_seen = (
        (list(state.get[0]), list(state.get[1]), state.get[2])
        if state.exists
        else ([], [], 0)
    )
    entries = list(zip(vms, ids))
    for pdf in batches:
        n_seen += len(pdf)
        entries.extend(
            zip(pdf["_vm"].astype("int64"), pdf["event_id"].astype("int64"))
        )
    entries.sort(key=lambda t: (-t[0], t[1]))
    entries = entries[:_TOPK_K]
    state.update((
        [int(i) for _, i in entries],
        [int(v) for v, _ in entries],
        n_seen,
    ))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(entries),
            "rank": list(range(1, len(entries) + 1)),
            "event_id": [int(i) for _, i in entries],
            "value_micros": [int(v) for v, _ in entries],
            "n_seen": [n_seen] * len(entries),
        }
    )


def running_topk_events(events: DataFrame) -> DataFrame:
    """Streaming per-user top-k events by value (k=3) via
    ``applyInPandasWithState`` — the bounded-state form of a
    leaderboard: state per key is exactly k (value, id) pairs plus a
    counter, NEVER the event history, so state size is O(users·k)
    regardless of stream length.  Values quantize to integer micros
    and the keep-order (value DESC, id ASC) is total, so the final
    emission per user is bit-identical to the batch top-k — the
    oracle-verifiable custom-state contract of
    running_user_stats_exact applied to a ranked structure.
    """
    prepared = events.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.floor(F.col("value") * 1000000).cast("long").alias("_vm"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_topk,
        outputStructType=_TOPK_OUT_SCHEMA,
        stateStructType=_TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_EWMA_OUT_SCHEMA = "event_type string, hr long, n long, ewma long"
_EWMA_STATE_SCHEMA = "prev long, last_hr long"


def _update_ewma(
    key: tuple, batches: Iterator, state: GroupState
) -> Iterator:
    """Fold this micro-batch's buckets (sorted by hour) into the dyadic
    EWMA recurrence y = (x + 3·y_prev) ÷ 4, carrying y across batches.
    Buckets must arrive in nondecreasing hour order ACROSS batches
    (the caller stages hour-range-partitioned files); a regression is
    surfaced loudly rather than silently mis-folded."""
    import pandas as pd

    prev, last_hr = state.get if state.exists else (None, None)
    out_hr: list[int] = []
    out_n: list[int] = []
    out_y: list[int] = []
    rows: list[tuple[int, int]] = []
    for pdf in batches:
        rows.extend(
            (int(h), int(n)) for h, n in zip(pdf["hr"], pdf["n"])
        )
    for h, n in sorted(rows):
        if last_hr is not None and h <= last_hr:
            raise ValueError(
                f"out-of-order bucket {h} after {last_hr} for key {key}"
            )
        if prev is None:
            y = n
        else:
            # Truncating division (toward zero), matching the batch
            # twin's Spark `div` (temporal.py dyadic_ewma) and the
            # shared DuckDB `//` oracle for negative values too —
            # Python `//` floors, which diverges on negative sums
            # (ADVICE r12).
            q = n + 3 * prev
            y = -((-q) // 4) if q < 0 else q // 4
        prev, last_hr = y, h
        out_hr.append(h)
        out_n.append(n)
        out_y.append(y)
    if rows:
        state.update((prev, last_hr))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(out_hr),
            "hr": out_hr,
            "n": out_n,
            "ewma": out_y,
        }
    )


def streaming_ewma(hourly: DataFrame) -> DataFrame:
    """Streaming twin of ``operators/temporal.dyadic_ewma`` (shift=2):
    per-key dyadic EWMA over (event_type, hr, n) rows via
    ``applyInPandasWithState`` — state is ONE (y, last_hr) pair per
    key regardless of stream length, each bucket is emitted exactly
    once in update mode, and because the recurrence is exact long
    arithmetic the final emissions bit-equal the batch fold (the two
    share one oracle).

    Ordering contract: hour buckets must reach the operator in
    nondecreasing hour order across micro-batches — stage the source
    as hour-range-partitioned files (`repartitionByRange` + sort
    within) so the file stream replays the calendar in order; within
    a batch the update sorts.
    """
    return hourly.groupBy("event_type").applyInPandasWithState(
        _update_ewma,
        outputStructType=_EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
