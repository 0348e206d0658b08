"""Structured Streaming variant of the event pipeline.

The reference is batch-only (dbt+DuckDB), but its incremental model
(``models/marts/fct_economic_indicators.sql:3-8`` — watermark filter +
merge) is exactly the problem Structured Streaming solves natively:
``readStream`` + event-time watermark replaces the hand-rolled
high-watermark scan, and windowed/session aggregations maintain state
across micro-batches instead of re-reading history.

Design notes:

- The *transformations* (`windowed_counts`, `sessionize`) accept batch
  OR streaming DataFrames — the logical plan is identical, only the
  source differs. That is the Spark-first shape of dbt's "model"
  concept: one declarative plan, two execution modes.
- ``run_available_now`` drains everything currently in the source
  (one micro-batch for a single file) into an in-memory sink and
  returns the result as a static DataFrame. The memory sink +
  ``complete`` output mode is a test/demo harness ONLY: at 100 TB the
  same plan writes ``append`` mode to parquet/Kafka with
  ``checkpointLocation`` on durable storage, and the watermark bounds
  state (sessions/windows older than the watermark are finalized,
  emitted, and evicted — state size is O(open windows), not O(data)).
- ``session_window`` (gap = 30 min) is the stateful-session operator;
  its batch twin is the lag/cumsum sessionize in
  ``queries/relational.py:q_sessionize``. Boundary semantics: an event
  exactly ``gap`` after its predecessor MERGES into the session
  (touching per-event windows ``[ts, ts+gap)`` coalesce), i.e. merge on
  ``diff <= gap``, split strictly on ``diff > gap`` — identical to the
  batch lag-rule, pinned by
  ``tests/test_streaming.py::test_session_gap_boundary``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SESSION_GAP = "30 minutes"
DEFAULT_WATERMARK = "1 hour"

# Stateful operators create one state-store instance PER shuffle
# partition, each with its own delta files, maintenance thread, and
# per-batch commit — for a single-file drain that fixed cost dwarfs the
# data. Size state partitions to state VOLUME (≈ state bytes / 100 MB
# per partition at cluster scale), not to the session's shuffle
# default. The partition count is pinned into the checkpoint at first
# start, so it is a per-pipeline knob, not a session conf. Swept 1/4/
# 8/16 at sf0.1: 8 minimizes the drain (1 serializes session_window's
# sort, 16 pays extra store setup).
DEFAULT_STATE_PARTITIONS = 8


@contextmanager
def state_partitions(spark: SparkSession, n: int | None):
    """Scope ``spark.sql.shuffle.partitions`` around a streaming start:
    the streaming engine reads it once when the query starts, so
    restoring the previous value immediately after does not affect the
    running stream — only subsequent batch plans.

    Also disables no-data micro-batches for the scope: a finite
    availableNow drain never needs the extra empty batch the engine
    otherwise schedules to advance the watermark and re-emit
    (complete-mode sinks REWRITE on that batch) — none of the pipelines
    here emit on watermark advance (no timeouts, no append-mode
    windows), so the empty batch is pure per-drain latency. Long-lived
    production streams keep the default: there the no-data batch is
    what finalizes and evicts watermark-expired state."""
    from contextlib import ExitStack

    from ..queries.common import shuffle_partitions

    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nd = spark.conf.get(nd_key, "true")
    spark.conf.set(nd_key, "false")
    try:
        with ExitStack() as stack:
            if n is not None:
                # the generic conf-scoping lives in queries.common
                stack.enter_context(shuffle_partitions(spark, n))
            yield
    finally:
        spark.conf.set(nd_key, prev_nd)


def ephemeral_scratch(prefix: str) -> str:
    """Scratch dir for checkpoints whose lifetime is ONE finite drain.

    A memory-sink availableNow drain's checkpoint has no durability
    value — the sink itself is in-memory and the query never resumes —
    so RAM-backed scratch (/dev/shm) is strictly better than disk for
    its many small WAL/commit/state files when available (measured
    ~0.43 ms vs ~0.015 ms per fsync'd small file on this host).
    Production streams and anything that RESUMES (foreachBatch merge
    pipelines) must keep caller-provided checkpoints on durable
    storage; this helper is only for drains that delete their
    checkpoint afterwards."""
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK) else None
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.

    A streaming source needs its schema up front (no inference), so it
    takes the schema of the session's batch scan (``common.raw_scan``,
    the one ``load()`` normalizes): a session that has loaded events
    pays nothing, else one footer-inference job, once. ``ts`` then
    lands as TIMESTAMP_NTZ through the same ``common.ts_to_ntz`` as
    batch, whatever the parquet encoding. Event-time pipelines cast to
    LTZ just for ``withWatermark`` (see ``_with_event_time``); UTC is
    pinned so that cast is an identity.
    """
    from ..queries.common import raw_scan, ts_to_ntz

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path = f"{sf_dir}/events.parquet"
    source = spark.readStream.schema(raw_scan(spark, sf_dir, "events").schema)
    # Spark-written table: events.parquet IS a directory of part files
    # — stream the directory itself (pathGlobFilter names only direct
    # children, so it would exclude the parts). Single-file table: the
    # file source wants a directory, so stream sf_dir filtered down to
    # the one file.
    if os.path.isdir(table_path):
        return ts_to_ntz(source.parquet(table_path))
    return ts_to_ntz(source.option("pathGlobFilter", "events.parquet").parquet(sf_dir))


def _with_event_time(events: DataFrame, watermark: str) -> DataFrame:
    """Attach the watermark for streaming inputs.

    ``withWatermark`` requires TIMESTAMP (LTZ) event time — it rejects
    the canonical TIMESTAMP_NTZ ``ts`` — so streaming casts NTZ→LTZ
    first. Sessions pin UTC, making the cast a wall-clock identity;
    pipeline outputs cast window bounds back to NTZ so batch and stream
    emit the identical (tz-free, oracle-comparable) schema."""
    if not events.isStreaming:
        return events
    return events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )


def windowed_counts(
    events: DataFrame, window_dur: str = "1 day", watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Tumbling event-time windows per event_type: count + sum(value).

    Works on batch and streaming inputs alike; the watermark is attached
    only when streaming (batch frames have no late-data concept).
    """
    df = _with_event_time(events, watermark)
    return (
        df.groupBy(F.window("ts", window_dur).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize(
    events: DataFrame, gap: str = SESSION_GAP, watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Gap-based sessions per user via the native session_window operator.

    State stays inside Spark's streaming aggregation (no
    applyInPandasWithState needed — the built-in operator expresses the
    semantics exactly, and is JVM-side)."""
    df = _with_event_time(events, watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("s.start").cast("timestamp_ntz").alias("session_start"),
            F.col("s.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    escape hatch for stream logic the built-in aggregations can't
    express (here deliberately simple — per-user running totals — so a
    batch oracle can verify the state machinery exactly).

    State = (rows seen, non-null values seen, running sum); each
    micro-batch folds its Arrow batches into the state and emits the
    updated per-user row. At scale, state lives in the state store
    (RocksDB), partitioned by the group key — memory is O(users), not
    O(events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # Project to the two columns the fold reads BEFORE the stateful
    # exchange: every column selected here crosses the shuffle AND the
    # Arrow boundary per micro-batch (the props JSON alone is ~10x the
    # useful payload). Catalyst cannot prune through a Python stateful
    # operator, so the projection must be explicit.
    #
    # NaN is normalized to NULL HERE, on the JVM side, because the
    # Arrow→pandas crossing erases the distinction anyway (both land
    # as float64 NaN) and the fold's dropna would then silently treat
    # a real NaN as NULL — diverging from SQL count(value)/sum(value),
    # which count NaN and propagate it. Declaring NaN→NULL as the
    # operator's contract (mirrored in ORACLE_STREAM_STATEFUL_TOTALS)
    # keeps stream and batch hash-equal even on NaN-bearing data.
    events = events.select(
        "user_id",
        F.when(F.isnan("value"), F.lit(None)).otherwise(F.col("value")).alias("value"),
    )

    out_schema = "user_id bigint, n_events bigint, n_values bigint, total_value double"
    state_schema = "n bigint, n_val bigint, total double"

    def fold(key, pdfs, state: GroupState):
        n, n_val, total = state.get if state.exists else (0, 0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            vals = pdf["value"].dropna()
            n_val += len(vals)
            total += float(vals.sum())
        state.update((n, n_val, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_values": [n_val],
                # round only at emit (2-dec data → r2 is order-safe);
                # all-null users emit null, matching SQL sum semantics
                "total_value": [round(total, 2) if n_val else None],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_stream_join(
    events: DataFrame,
    left_type: str,
    right_type: str,
    within: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Watermarked stream-stream INNER join — event attribution: each
    ``left_type`` event joined to every ``right_type`` event of the
    same user within ``within`` afterwards (click→purchase within 1h).

    The time-range predicate + watermarks on BOTH sides are what make
    this bounded: Spark derives each side's state-retention horizon
    from them, so join state is evicted as the watermark advances —
    the only shape a stream-stream join survives at 100 TB/day.
    Output is append-mode by construction (inner join emits exactly
    when both sides have arrived). Works identically on a batch frame
    (no watermark attached) — the oracle comparison path."""
    src = _with_event_time(events, watermark)
    left = src.filter(F.col("event_type") == left_type).select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user_id"),
        F.col("ts").alias("l_ts"),
    )
    right = src.filter(F.col("event_type") == right_type).select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    joined = left.join(
        right,
        F.expr(
            f"l_user_id = r_user_id AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL {within}"
        ),
    )
    return joined.select(
        F.col("l_event_id").alias("left_id"),
        F.col("r_event_id").alias("right_id"),
        F.col("l_user_id").alias("user_id"),
        # microsecond diff: exact integers in both engines (second-level
        # diffs diverge: DuckDB counts boundary crossings, Spark floors)
        F.timestamp_diff("MICROSECOND", F.col("l_ts"), F.col("r_ts")).alias("delay_us"),
    )


def stream_merge_incremental(
    stream_df: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    unique_key: str = "event_id",
    partition_by: str | None = None,
) -> None:
    """Streaming twin of the incremental materialization: every
    micro-batch is key-upserted into the target via ``foreachBatch`` +
    ``materialize.incremental.run_incremental`` — the exact batch merge
    logic, driven by the streaming engine. The checkpoint gives
    exactly-once batch replay (a re-run resumes after the last committed
    batch id); with Delta/Iceberg the inner merge would be MERGE INTO
    and the swap-write disappears.

    ``partition_by`` enables the partition-scoped merge — at scale this
    is THE sink shape for continuous ingestion: a trigger's batch lands
    in one or two time partitions, so each commit rewrites O(batch)
    files instead of the whole target."""
    from ..materialize.incremental import run_incremental

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_incremental(
            batch_df.sparkSession, target_path, batch_df, unique_key,
            broadcast_incoming_keys=True, partition_by=partition_by,
        )

    with state_partitions(stream_df.sparkSession, DEFAULT_STATE_PARTITIONS):
        q = (
            stream_df.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def _emits_only_on_watermark(df: DataFrame) -> bool:
    """True when the analyzed logical plan holds an operator whose
    APPEND-mode output (or part of it) is produced only on watermark
    advance — which for a finite drain happens in exactly the no-data
    micro-batch that state_partitions suppresses:

    - a STREAMING Aggregate (window/session/group aggs finalize on
      watermark; a static-side aggregate like stream_enrich's
      broadcast dim evaluates per batch and doesn't count);
    - a stream-stream OUTER join (matched rows emit eagerly, but the
      unmatched null-padded rows emit only when the watermark closes
      the state — an inner join never holds back output);
    - a Python stateful operator (applyInPandasWithState) — its
      event-time timeouts fire on the no-data batch; the engine's own
      stateful pipelines drain in update mode, so flagging append
      conservatively costs nothing.

    A handful of py4j calls once per drain setup — nothing per batch."""

    def walk(node) -> bool:
        name = node.nodeName()
        if name == "Aggregate" and node.isStreaming():
            return True
        if name == "FlatMapGroupsInPandasWithState":
            return True
        kids = node.children()
        if name == "Join" and kids.size() == 2:
            left, right = kids.apply(0), kids.apply(1)
            # Variants that hold rows back for the watermark: OUTER
            # joins (matched rows emit eagerly; the unmatched
            # null-padded rows emit only when the watermark closes the
            # state) and LEFT ANTI (a row is provably unmatched only
            # once the watermark expires its match window, so EVERY
            # anti output waits on the watermark). LeftSemi emits
            # eagerly on match, like inner — a 'not Inner' test would
            # spuriously flag it. Spark currently rejects stream-stream
            # LeftAnti at start(), so that arm is future-proofing, not
            # load-bearing today — but the guard must not silently
            # allow a partial append-mode anti drain if support lands.
            # 'Outer' covers LeftOuter/RightOuter/FullOuter.
            jt = str(node.joinType())
            if (
                left.isStreaming()
                and right.isStreaming()
                and ("Outer" in jt or "Anti" in jt)
            ):
                return True
        return any(walk(kids.apply(i)) for i in range(kids.size()))

    return walk(df._jdf.queryExecution().analyzed())


def run_available_now(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    n_state_partitions: int | None = None,
) -> DataFrame:
    """Drain the stream (trigger=availableNow) into a memory sink and
    return the result as a static DataFrame.

    ``complete`` mode emits every window including still-open ones —
    deterministic for a finite source (stateful update-mode operators
    pass ``update``: with one drain batch that is also the final state).
    Production sinks use ``append`` (only watermark-finalized windows)
    to parquet/Kafka instead.

    ``n_state_partitions``: JVM-stateful pipelines want FEW state
    stores (fixed per-store cost dominates), sized to state volume.
    Python-stateful ones (``applyInPandasWithState``) take one wave of
    executor slots (``queries.common.executor_slots``), capped at the
    widest measured optimum: each partition is a serial Arrow⇄pandas
    worker loop, and each Python task pays a fixed worker set-up before
    its first row (pyspark's per-task ``importlib.invalidate_caches()``
    re-reads every cached zipimporter's directory). At 4 slots and
    sf0.1 one wave measured fastest; at 32 slots half a wave beat a
    full one, hence the cap. Callers override per pipeline."""
    import shutil

    if output_mode == "append" and _emits_only_on_watermark(stream_df):
        # state_partitions disables no-data micro-batches for the
        # drain (they only add per-drain latency) — fine for append-
        # mode dedup/inner-joins (they emit as rows arrive) and for
        # aggregates on a STATIC side (stream_enrich's broadcast dim),
        # but fatal for operators that emit on watermark advance
        # (streaming aggregations, outer-join null padding, stateful
        # timeouts): for a finite drain that emission happens in
        # exactly the suppressed final batch, so the drain would
        # silently return zero (or partial) rows with no error. Fail
        # loudly instead; finite drains of such operators use
        # 'complete'/'update', and production append sinks belong on a
        # long-lived stream with the default conf.
        raise ValueError(
            "run_available_now suppresses no-data micro-batches, which "
            "append-mode aggregations/outer-joins/stateful timeouts "
            "need to emit — use output_mode='complete' (windows) or "
            "'update' (stateful), or run a long-lived stream for "
            "append sinks"
        )

    ckpt = ephemeral_scratch(f"drain_{name}_")
    try:
        with state_partitions(
            stream_df.sparkSession, n_state_partitions or DEFAULT_STATE_PARTITIONS
        ):
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.table(name)
