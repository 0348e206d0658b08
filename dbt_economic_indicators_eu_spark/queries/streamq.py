"""Structured Streaming demo queries — the streaming twin of the batch
event pipeline (reference: the incremental model
``models/marts/fct_economic_indicators.sql:3-8`` re-expressed as a
stream; see ``streaming/pipeline.py`` for the design rationale).

Each query runs the REAL streaming engine (readStream → stateful agg →
memory sink, trigger=availableNow) and returns the drained result as a
static DataFrame, so the DuckDB oracle can check it value-for-value:
streaming correctness here is not "it ran", it is hash-equality with
the batch-SQL answer.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..streaming import pipeline as streaming
from .common import EVENTS_NORM_SQL, QueryDef, executor_slots, load, session_scratch


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = streaming.events_stream(spark, sf_dir)
    # few (window, type) groups → state volume is tiny; 4 stores beat 8
    # on fixed per-store cost (swept 2/4/8 at sf0.1: 0.62/0.62/0.74)
    return streaming.run_available_now(
        streaming.windowed_counts(ev), "stream_window_counts", n_state_partitions=4
    )


# Tumbling 1-day windows are epoch-aligned → UTC midnight boundaries,
# which date_trunc reproduces exactly. NULL event times are EXCLUDED:
# Spark's window()/session_window() analyzer rules inject an
# IsNotNull(ts) filter (a row with no event time belongs to no
# window), so the oracle must not group them under a NULL window.
ORACLE_STREAM_WINDOW_COUNTS = f"""
SELECT
  date_trunc('day', ts) AS window_start,
  date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
  event_type,
  count(*) AS n_events,
  round(sum(value), 2) AS total_value
FROM {EVENTS_NORM_SQL} e
WHERE ts IS NOT NULL
GROUP BY 1, 2, 3
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = streaming.events_stream(spark, sf_dir)
    return streaming.run_available_now(streaming.sessionize(ev), "stream_sessionize")


# session_window boundary semantics (pinned by
# tests/test_streaming.py::test_session_gap_boundary): merge on
# diff <= gap, split on diff > gap — the same lag-rule as the batch
# sessionize oracle; session_end = last event ts + gap. NULL event
# times are EXCLUDED like the window-counts oracle (session_window
# drops them via the injected IsNotNull filter; the lag arithmetic
# here would instead silently merge a NULL-ts row into a neighbor).
ORACLE_STREAM_SESSIONIZE = f"""
WITH flagged AS (
  SELECT
    user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM {EVENTS_NORM_SQL} e
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT
    user_id, ts, value,
    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT
  user_id,
  min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  count(*) AS n_events,
  round(sum(value), 2) AS total_value
FROM sessions
GROUP BY user_id, session_idx
"""


# Widest Python-stateful drain that has been measured as the optimum.
# Measured at sf0.1 at two slot counts only:
#   local[4]:  1/2/4/8/16 partitions → 3.68/2.76/2.31/2.66/4.05 s (one wave best)
#   local[32]: 8/16/32 partitions → 1.345/1.136/1.616 s (half a wave best)
# so one wave of slots holds up to 4 slots and not at 32; the cap keeps
# the 32-slot optimum until a sweep between the two says where the
# rule stops.
_PY_STATE_PARTITIONS_MAX = 16


def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = streaming.events_stream(spark, sf_dir)
    # Arrow batch sizing (spark.sql.execution.arrow.maxRecordsPerBatch)
    # was swept for this drain in round 13 and left at the DEFAULT: a
    # sequential sweep suggested ~12% at <=2000, but a 6-pair
    # INTERLEAVED A/B (the drift-cancelling design) showed a wash —
    # 10000 vs 1000 min 1.033/1.041, vs 500 min 1.006/0.963 with means
    # inverting. The per-group 1-row pandas emission dominates the
    # serializer cost, so input batch size is immaterial here.
    return streaming.run_available_now(
        streaming.stateful_user_totals(ev),
        "stream_stateful_totals",
        output_mode="update",
        # Python-stateful: one wave of executor slots, capped (see
        # run_available_now and _PY_STATE_PARTITIONS_MAX)
        n_state_partitions=min(executor_slots(spark), _PY_STATE_PARTITIONS_MAX),
    )


# applyInPandasWithState folds batches into per-user state; with one
# drain batch the emitted update rows equal the batch-SQL aggregation.
# NaN is normalized to NULL on both sides (the operator's declared
# contract — see stateful_user_totals: the Arrow→pandas crossing erases
# the NaN/NULL distinction, so the fold cannot honor SQL's
# count-NaN/propagate-NaN semantics). The `nonfinite` regime gate
# (round 12) drives NaN/±Inf values through this exact path: NaN takes
# the normalize-to-NULL leg on both engines, ±Inf flows through the
# sums identically.
ORACLE_STREAM_STATEFUL_TOTALS = f"""
SELECT
  user_id,
  count(*) AS n_events,
  count(CASE WHEN isnan(value) THEN NULL ELSE value END) AS n_values,
  round(sum(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS total_value
FROM {EVENTS_NORM_SQL} e
GROUP BY user_id
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-STREAM-DEDUP: streaming deduplication — the stream twin of
    exact dedup (datapipe.q_dedup_exact): emit each (user_id,
    event_type) combination once, state = the set of seen keys. In
    production ``withWatermark`` + ``dropDuplicatesWithinWatermark``
    bounds that state by event time; with a finite drain the watermark
    never advances past the data, so the unbounded form is used and the
    result equals batch DISTINCT exactly (projecting ONLY the key
    columns keeps the emitted row deterministic — dedup over wider rows
    would keep an arbitrary first-seen row per key)."""
    ev = streaming.events_stream(spark, sf_dir)
    deduped = ev.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    # key-set state is small; 4 stores minimize the drain (swept 2/4/8)
    return streaming.run_available_now(
        deduped, "stream_dedup", output_mode="append", n_state_partitions=4
    )


ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-STREAM-JOIN: watermarked stream-stream inner join — the
    click→purchase attribution pattern (every purchase within 1h of a
    same-user click). Watermarks + the time-range predicate bound the
    join state on both sides (streaming/pipeline.py:stream_stream_join);
    inner time-interval joins are append-mode by construction, so the
    drained result equals the batch time-range join the oracle runs."""
    ev = streaming.events_stream(spark, sf_dir)
    joined = streaming.stream_stream_join(ev, "click", "purchase", within="1 hour")
    return streaming.run_available_now(
        joined, "stream_join", output_mode="append", n_state_partitions=4
    )


ORACLE_STREAM_JOIN = f"""
SELECT a.event_id AS left_id,
       b.event_id AS right_id,
       a.user_id,
       date_diff('microsecond', CAST(a.ts AS TIMESTAMP), CAST(b.ts AS TIMESTAMP)) AS delay_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
 AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR
"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-STREAM-ENRICH: stream-static dimension enrichment — every
    micro-batch broadcast-joins a STATIC dim table (no watermark, no
    join state: the static side is just a broadcast per batch, the
    canonical "enrich events with reference data" streaming pattern).
    The dim here derives from the nation table (a genuinely separate
    source); stateless join → append mode, drained result equals the
    batch join the oracle runs. At 100 TB/day the static side refreshes
    by restarting the query (or a Delta dim with CDF); the stream side
    never shuffles for this join."""
    ev = streaming.events_stream(spark, sf_dir)
    dim = (
        load(spark, sf_dir, "nation")
        .select(
            (F.col("n_nationkey") % 20).alias("region_bucket"),
            F.col("n_name").alias("nation_name"),
        )
        .groupBy("region_bucket")
        .agg(F.min("nation_name").alias("nation_name"))
    )
    enriched = (
        ev.filter(F.col("event_type") == "purchase")  # enrich conversions
        .withColumn("region_bucket", F.col("user_id") % 20)
        .join(F.broadcast(dim), "region_bucket")
        .select("event_id", "user_id", "nation_name", "value")
    )
    return streaming.run_available_now(
        enriched, "stream_enrich", output_mode="append", n_state_partitions=2
    )


ORACLE_STREAM_ENRICH = f"""
WITH dim AS (
  SELECT n_nationkey % 20 AS region_bucket, min(n_name) AS nation_name
  FROM nation GROUP BY 1
)
SELECT e.event_id, e.user_id, d.nation_name, e.value
FROM {EVENTS_NORM_SQL} e
JOIN dim d ON e.user_id % 20 = d.region_bucket
WHERE e.event_type = 'purchase'
"""


def q_stream_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the target with stale values for 1/3 of the keys, then
    stream-merge ALL events via foreachBatch upsert: the final table
    must hold every event with its true (stream-won) value — proving
    key-collision replacement through the streaming path."""
    # Demo pipeline: target + checkpoint live exactly one call, so
    # RAM-backed scratch applies (a PRODUCTION incremental merge keeps
    # both on durable storage — resume/exactly-once depends on it; see
    # streaming.ephemeral_scratch and tests/test_streaming.py resume).
    # The dir must be FRESH per call (a reused checkpoint would RESUME
    # and no-op the merge), but the previous call's dir is reclaimed —
    # an effectful query re-run by every bench pass would otherwise
    # leak one events-table copy into RAM-backed /dev/shm per call.
    #
    # CONTRACT: the returned DataFrame lazily reads this call's scratch
    # target and is INVALIDATED by the next q_stream_incremental call
    # (deferred cleanup reclaims the files). Materialize (collect /
    # write / cache+count) before calling again. An eager
    # localCheckpoint would lift that restriction but costs an extra
    # full materialization pass per call — wrong trade for a bench-path
    # query whose callers (driver, bench, tests) all consume promptly.
    calls = session_scratch(spark, ("stream_incr",), mkdtemp=streaming.ephemeral_scratch)
    for prev in os.listdir(calls):
        shutil.rmtree(os.path.join(calls, prev), ignore_errors=True)
    base = tempfile.mkdtemp(dir=calls)
    target, checkpoint = f"{base}/target", f"{base}/ckpt"

    cols = ["event_id", "user_id", "event_type", "ts", "value"]

    # The seed is a DETERMINISTIC fixture (stale values for 1/3 of the
    # keys); re-running the Spark write per call just re-times fixture
    # setup, not the merge under test — write it once per (session,
    # sf_dir), file-copy per call.
    def write_seed(pristine: str) -> None:
        (
            load(spark, sf_dir, "events")
            .filter(F.col("event_id") % 3 == 0)
            .select(*[c for c in cols if c != "value"], F.lit(-1.0).alias("value"))
            .select(*cols)
            .write.mode("overwrite").parquet(pristine)
        )

    pristine = session_scratch(
        spark, ("stream_incr_seed", sf_dir), write_seed, mkdtemp=streaming.ephemeral_scratch
    )
    shutil.copytree(pristine, target)

    ev = streaming.events_stream(spark, sf_dir).select(*cols)
    streaming.stream_merge_incremental(ev, target, checkpoint)
    return spark.read.parquet(target)


ORACLE_STREAM_INCREMENTAL = f"""
SELECT event_id, user_id, event_type, ts, value
FROM {EVENTS_NORM_SQL} e
"""


QUERIES = [
    QueryDef(
        "stream_incremental",
        q_stream_incremental,
        ORACLE_STREAM_INCREMENTAL,
        ("EXT-STREAM-INCR", "OP-SINK-INCR"),
        effectful=True,
    ),
    QueryDef(
        "stream_window_counts",
        q_stream_window_counts,
        ORACLE_STREAM_WINDOW_COUNTS,
        ("EXT-STREAM-WINDOW",),
        effectful=True,
    ),
    QueryDef(
        "stream_stateful_totals",
        q_stream_stateful_totals,
        ORACLE_STREAM_STATEFUL_TOTALS,
        ("EXT-STREAM-STATEFUL",),
        effectful=True,
    ),
    QueryDef(
        "stream_sessionize",
        q_stream_sessionize,
        ORACLE_STREAM_SESSIONIZE,
        ("EXT-STREAM-SESSION",),
        effectful=True,
    ),
    QueryDef("stream_dedup", q_stream_dedup, ORACLE_STREAM_DEDUP, ("EXT-STREAM-DEDUP",), effectful=True),
    QueryDef("stream_join", q_stream_join, ORACLE_STREAM_JOIN, ("EXT-STREAM-JOIN",), effectful=True),
    QueryDef("stream_enrich", q_stream_enrich, ORACLE_STREAM_ENRICH, ("EXT-STREAM-ENRICH",), effectful=True),
]
