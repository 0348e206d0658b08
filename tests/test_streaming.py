"""Structured Streaming pipeline tests (streaming/pipeline.py).

Pins (a) session_window gap-boundary semantics the oracle SQL depends
on, and (b) batch/stream plan equivalence: the same transformation fed
from readStream must produce exactly the rows the batch path produces.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbt_economic_indicators_eu_spark.streaming import pipeline as streaming

SF_DIR = "/root/testdata/sf0.001"


def test_session_gap_boundary(spark):
    # Events exactly gap (1800s) apart MERGE; gap + 1 microsecond splits.
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 10.0),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0), 5.0),  # +1800s  -> merge
        (1, dt.datetime(2024, 1, 1, 1, 0, 0, 1), 1.0),  # +1800.000001s -> split
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    out = streaming.sessionize(df).orderBy("session_start").collect()
    assert [r.n_events for r in out] == [2, 1]
    # session_end = last event ts + gap
    assert out[0].session_end == dt.datetime(2024, 1, 1, 1, 0, 0)
    assert out[1].session_start == dt.datetime(2024, 1, 1, 1, 0, 0, 1)


def test_windowed_counts_epoch_aligned(spark):
    rows = [
        (1, dt.datetime(2024, 1, 1, 23, 59, 59), "a", 1.0),
        (2, dt.datetime(2024, 1, 2, 0, 0, 0), "a", 2.0),
    ]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, event_type string, value double")
    out = {r.window_start: r.n_events for r in streaming.windowed_counts(df).collect()}
    assert out == {
        dt.datetime(2024, 1, 1): 1,
        dt.datetime(2024, 1, 2): 1,
    }


def test_stream_matches_batch(spark):
    """readStream → stateful agg → memory sink == identical batch plan."""
    ev_stream = streaming.events_stream(spark, SF_DIR)
    got = streaming.run_available_now(
        streaming.windowed_counts(ev_stream), "t_stream_eq_batch"
    )

    from dbt_economic_indicators_eu_spark.queries.common import load

    ev_batch = load(spark, SF_DIR, "events")
    want = streaming.windowed_counts(ev_batch)

    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState must FOLD state across micro-batches, not
    recompute per batch: feed two files one-per-trigger and assert the
    final update per user equals the global batch aggregate."""
    import pyspark.sql.functions as F

    d = str(tmp_path / "ev")
    rows1 = [(1, 100, 1.5), (2, 100, 2.5), (3, 200, None)]
    rows2 = [(4, 100, 4.0), (5, 200, 6.25)]
    schema = "event_id bigint, user_id bigint, value double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(d)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    out = streaming.run_available_now(
        streaming.stateful_user_totals(stream), "t_stateful_2batch", output_mode="update"
    )
    # update mode emits one row per user per batch that touched it —
    # the row with the highest n_events is the final folded state
    final = {
        r.user_id: r
        for r in out.withColumn(
            "_rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("user_id")
                .orderBy(F.col("n_events").desc())
            ),
        )
        .filter("_rn = 1")
        .collect()
    }
    assert final[100].n_events == 3 and final[100].total_value == 8.0
    assert final[200].n_events == 2 and final[200].n_values == 1
    assert final[200].total_value == 6.25


def test_stateful_totals_drain_is_one_wave_of_slots(spark):
    """The Python-stateful drain runs one task per executor slot, up to
    the cap: each Python task pays a fixed worker set-up, and one wave
    measured fastest at 4 slots while 16 beat 32 at 32 slots. Read the
    partition count the engine actually used from the query's own
    progress event, not from the conf the caller set."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from dbt_economic_indicators_eu_spark.queries.common import executor_slots
    from dbt_economic_indicators_eu_spark.queries.streamq import (
        _PY_STATE_PARTITIONS_MAX,
        q_stream_stateful_totals,
    )

    seen = []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.name == "stream_stateful_totals":
                seen.append(event.progress)

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        assert q_stream_stateful_totals(spark, SF_DIR).count() > 0
        # the listener bus delivers asynchronously
        deadline = time.monotonic() + 60
        while not any(p.stateOperators for p in seen) and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    ops = [op for p in seen for op in p.stateOperators]
    assert ops, "no progress event with a state operator was delivered"
    want = min(executor_slots(spark), _PY_STATE_PARTITIONS_MAX)
    assert {op.numShufflePartitions for op in ops} == {want}


def test_event_time_windows_drop_null_ts(spark):
    """window()/session_window() silently drop NULL event-time rows
    (Spark's analyzer injects IsNotNull(ts) — a row with no event time
    belongs to no window); the stream oracles exclude them explicitly.
    Pin the Spark side so an engine change surfaces here rather than
    as a gate hash mismatch on a NULL-ts corpus."""
    rows = [
        (1, dt.datetime(2024, 1, 1, 1), "a", 1.0),
        (1, None, "a", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_type string, value double"
    )
    win = streaming.windowed_counts(df).collect()
    assert len(win) == 1
    assert win[0].n_events == 1 and win[0].total_value == 1.0
    sess = streaming.sessionize(df).collect()
    assert len(sess) == 1
    assert sess[0].n_events == 1 and sess[0].total_value == 1.0


def test_stateful_totals_nan_null_contract(spark, tmp_path):
    """The Arrow→pandas crossing erases the NaN/NULL distinction, so
    stateful_user_totals declares NaN→NULL as its contract and
    normalizes on the JVM side BEFORE the stateful exchange — a real
    NaN must count like a NULL (excluded from n_values, sum stays
    finite), identically whether the NaN arrives via stream or the
    batch twin, instead of silently diverging from whatever pandas
    dropna happened to do."""
    d = str(tmp_path / "ev_nan")
    schema = "event_id bigint, user_id bigint, value double"
    rows = [(1, 100, 1.5), (2, 100, float("nan")), (3, 200, float("nan"))]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    out = {
        r.user_id: r
        for r in streaming.run_available_now(
            streaming.stateful_user_totals(stream),
            "t_stateful_nan",
            output_mode="update",
        ).collect()
    }
    assert out[100].n_events == 2 and out[100].n_values == 1
    assert out[100].total_value == 1.5
    assert out[200].n_events == 1 and out[200].n_values == 0
    assert out[200].total_value is None  # all-NaN user: null, not NaN


def test_available_now_rejects_append_mode_aggregation(spark, tmp_path):
    """run_available_now suppresses no-data micro-batches, which
    append-mode AGGREGATIONS need to finalize windows — draining one
    would silently return zero rows for long-closed windows, so the
    combination must fail loudly (append-mode dedup/joins stay
    allowed: they emit as rows arrive)."""
    import pytest

    d = str(tmp_path / "ev_app")
    schema = "user_id bigint, ts timestamp, event_type string, value double"
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "click", 1.0)], schema
    ).coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(schema).parquet(d)
    with pytest.raises(ValueError, match="append-mode aggregations"):
        streaming.run_available_now(
            streaming.windowed_counts(stream), "t_append_agg", output_mode="append"
        )


def test_stream_sessionize_matches_batch(spark):
    ev_stream = streaming.events_stream(spark, SF_DIR)
    got = streaming.run_available_now(
        streaming.sessionize(ev_stream), "t_stream_sess_eq_batch"
    )

    from dbt_economic_indicators_eu_spark.queries.common import load

    ev_batch = load(spark, SF_DIR, "events")
    want = streaming.sessionize(ev_batch)

    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # sessions are no finer than events, no coarser than users
    n_users = ev_batch.select("user_id").distinct().count()
    assert n_users <= got.count() <= ev_batch.count()


def test_stream_handles_legacy_nanos_encoding(spark, tmp_path):
    """The driver has shipped events.parquet as TIMESTAMP(NANOS) in a
    prior round; the stream source must read it with the batch scan's
    schema and normalize to the same NTZ values as the micros path."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(
            [dt.datetime(2025, 1, 1, 0, 10), dt.datetime(2025, 1, 2, 5, 0)],
            pa.timestamp("ns"),
        ),
        "user_id": pa.array([1, 1], pa.int64()),
        "event_type": pa.array(["a", "b"], pa.string()),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"], pa.string()),
    }
    d = str(tmp_path / "ns")
    (tmp_path / "ns").mkdir()
    pq.write_table(pa.table(rows), f"{d}/events.parquet")

    out = streaming.run_available_now(
        streaming.windowed_counts(streaming.events_stream(spark, d)),
        "t_nanos_stream",
    ).collect()
    got = {(r.window_start, r.event_type): r.n_events for r in out}
    assert got == {
        (dt.datetime(2025, 1, 1), "a"): 1,
        (dt.datetime(2025, 1, 2), "b"): 1,
    }


@pytest.mark.parametrize("out_type", ["INT96", "TIMESTAMP_MICROS"])
def test_stream_handles_directory_and_ltz_encodings(spark, tmp_path, out_type):
    """Spark-written events.parquet is a DIRECTORY of part files whose
    ``timestamp`` (LTZ) column is INT96 or tz-adjusted micros in the
    footer — the stream must read the directory itself and normalize
    LTZ→NTZ through the batch load()'s ``ts_to_ntz`` (identity wall
    clock under the pinned UTC zone). INT96 reads as ``timestamp``, not
    as the nanos ``bigint``, though pyarrow reports both as
    timestamp[ns]."""
    import datetime as dt

    d = str(tmp_path / f"dir_{out_type}")
    df = spark.createDataFrame(
        [
            (1, dt.datetime(2025, 1, 1, 0, 10), 1, "a", 1.0, "{}"),
            (2, dt.datetime(2025, 1, 2, 5, 0), 1, "b", 2.0, "{}"),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, out_type)
    try:
        df.coalesce(2).write.mode("overwrite").parquet(f"{d}/events.parquet")
    finally:
        spark.conf.set(key, prev)

    ev = streaming.events_stream(spark, d)
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    out = streaming.run_available_now(
        streaming.windowed_counts(ev), f"t_dir_stream_{out_type}"
    ).collect()
    got = {(r.window_start, r.event_type): r.n_events for r in out}
    assert got == {
        (dt.datetime(2025, 1, 1), "a"): 1,
        (dt.datetime(2025, 1, 2), "b"): 1,
    }


def test_incremental_resume_is_exactly_once(spark, tmp_path):
    """The checkpointed foreachBatch merge must be resumable: a second
    drain with the SAME checkpoint re-processes only files that arrived
    after the first drain — no duplicates, upserts still win."""
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id bigint, user_id bigint, value double"

    spark.createDataFrame(
        [(1, 10, 1.0), (2, 10, 2.0)], schema
    ).coalesce(1).write.parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        streaming.stream_merge_incremental(stream, target, ckpt, unique_key="event_id")

    drain()
    first = {r.event_id: r.value for r in spark.read.parquet(target).collect()}
    assert first == {1: 1.0, 2: 2.0}

    # second batch: one new key, one collision (key 2 revised)
    spark.createDataFrame(
        [(2, 10, 20.0), (3, 11, 3.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    final = {r.event_id: r.value for r in spark.read.parquet(target).collect()}
    # exactly-once: key 1 appears once with its original value; the
    # revised key 2 wins; key 3 appended
    assert final == {1: 1.0, 2: 20.0, 3: 3.0}
    assert spark.read.parquet(target).count() == 3

    # a third drain with NO new files must be a no-op
    drain()
    assert spark.read.parquet(target).count() == 3


def test_session_window_merges_across_batches(spark, tmp_path):
    """Two micro-batches whose events fall inside one session gap must
    merge into a SINGLE session row (state carries across batches)."""
    d = str(tmp_path / "ev")
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id bigint, ts timestamp_ntz, user_id bigint, value double"
    spark.createDataFrame(
        [(1, t0, 7, 1.0), (2, t0 + dt.timedelta(minutes=10), 7, 2.0)], schema
    ).coalesce(1).write.parquet(d)
    spark.createDataFrame(
        # 20 min after event 2 -> still inside the 30-min gap
        [(3, t0 + dt.timedelta(minutes=30), 7, 4.0)], schema
    ).coalesce(1).write.mode("append").parquet(d)

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    out = streaming.run_available_now(
        streaming.sessionize(stream), "t_session_2batch"
    ).collect()
    assert len(out) == 1
    s = out[0]
    assert s.user_id == 7 and s.n_events == 3 and s.total_value == 7.0
    assert s.session_start == t0
    assert s.session_end == t0 + dt.timedelta(minutes=60)  # last event + gap


def test_stream_merge_partition_scoped(spark, tmp_path):
    """foreachBatch merge with partition_by: the second micro-batch
    lands only in day=2, so day=1's parquet files must be bit-identical
    after the second drain (the O(batch partitions) sink shape for
    continuous ingestion)."""
    import glob
    import hashlib
    import os

    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id bigint, day int, value double"

    spark.createDataFrame(
        [(1, 1, 1.0), (2, 1, 2.0), (3, 2, 3.0)], schema
    ).coalesce(1).write.parquet(src)

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        streaming.stream_merge_incremental(
            stream, target, ckpt, unique_key="event_id", partition_by="day"
        )

    def files(part):
        return {
            p: hashlib.md5(open(p, "rb").read()).hexdigest()
            for p in glob.glob(os.path.join(target, f"day={part}", "*.parquet"))
        }

    drain()
    day1 = files(1)
    assert day1 and files(2)

    spark.createDataFrame(
        [(3, 2, 30.0), (4, 2, 4.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    drain()
    assert files(1) == day1  # untouched partition, same bytes
    got = {r.event_id: (r.day, r.value) for r in spark.read.parquet(target).collect()}
    assert got == {1: (1, 1.0), 2: (1, 2.0), 3: (2, 30.0), 4: (2, 4.0)}


def test_stream_join_state_across_batches(spark, tmp_path):
    """Stream-stream join state must carry across micro-batches: the
    click arrives in batch 1, its purchase in batch 2 (maxFilesPerTrigger
    forces the split) — the pair must still emit."""
    import datetime as dt

    d = str(tmp_path / "ev")
    schema = (
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    )
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [(1, t0, 7, "click", 1.0, None)], schema
    ).coalesce(1).write.parquet(d)
    spark.createDataFrame(
        [(2, t0 + dt.timedelta(minutes=10), 7, "purchase", 5.0, None),
         (3, t0 + dt.timedelta(hours=3), 7, "purchase", 9.0, None)],  # outside window
        schema,
    ).coalesce(1).write.mode("append").parquet(d)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    joined = streaming.stream_stream_join(stream, "click", "purchase", within="1 hour")
    rows = streaming.run_available_now(
        joined, "ssj_cross_batch", output_mode="append", n_state_partitions=2
    ).collect()
    assert [(r.left_id, r.right_id, r.user_id, r.delay_us) for r in rows] == [
        (1, 2, 7, 600_000_000)
    ]


def test_emits_only_on_watermark_join_types(spark):
    """OUTER and LEFT ANTI stream-stream joins hold rows back for the
    watermark (outer: the unmatched null-padded side; anti: a row is
    provably unmatched only once the watermark expires its window —
    every anti output waits). Inner and semi joins emit eagerly on
    match — a 'not Inner' test would spuriously flag a LeftSemi drain.
    Spark rejects stream-stream LeftAnti at start() today, so the anti
    arm is analysis-only future-proofing (no current pipeline builds
    one; this pins the guard for the first that does). Analysis-only:
    the plans are walked, never started."""
    def src(tag):
        return (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .withWatermark("timestamp", "10 seconds")
            .withColumnRenamed("value", tag)
        )

    flag = streaming._emits_only_on_watermark
    assert not flag(src("lv").join(src("rv"), "timestamp"))
    assert flag(src("lv").join(src("rv"), "timestamp", "leftOuter"))
    assert flag(src("lv").join(src("rv"), "timestamp", "fullOuter"))
    assert not flag(src("lv").join(src("rv"), "timestamp", "left_semi"))
    # anti flags even though Spark rejects stream-stream anti at
    # start(): the guard sees the ANALYZED plan, which builds fine
    assert flag(src("lv").join(src("rv"), "timestamp", "left_anti"))
    # streaming aggregate still flags (windows finalize on watermark)
    agg = src("lv").groupBy(F.window("timestamp", "1 minute")).count()
    assert flag(agg)
