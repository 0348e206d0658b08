"""queries/common.py:load — events.ts normalization.

The driver has shipped events.parquet under two physical encodings so
far (round 1: TIMESTAMP(NANOS); round 2: TIMESTAMP(MICROS, no-tz)).
load() must canonicalize BOTH to TIMESTAMP_NTZ with identical values
on a session that sets none of our confs, because the harness builds
its own SparkSession.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbt_economic_indicators_eu_spark.queries.common import epoch_micros, load

_ROWS = [
    (1, dt.datetime(2025, 1, 1, 12, 0, 0, 123456), 10, "view", 1.5, "{}"),
    (2, dt.datetime(2025, 6, 1, 0, 0, 0), 20, "click", None, "{}"),
]


def _write_events(path: str, unit: str) -> None:
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in _ROWS], pa.timestamp(unit)),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS], pa.string()),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _ROWS], pa.string()),
        }
    )
    pq.write_table(t, path)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_load_normalizes_both_encodings(spark, tmp_path, unit):
    d = str(tmp_path / unit)
    (tmp_path / unit).mkdir()
    _write_events(f"{d}/events.parquet", unit)
    df = load(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = {r.event_id: r.ts for r in df.collect()}
    assert got == {r[0]: r[1] for r in _ROWS}


def test_epoch_micros_on_ntz(spark, tmp_path):
    d = str(tmp_path / "em")
    (tmp_path / "em").mkdir()
    _write_events(f"{d}/events.parquet", "us")
    df = load(spark, d, "events")
    got = {
        r.event_id: r.em
        for r in df.select("event_id", epoch_micros(df.ts).alias("em")).collect()
    }
    # tz-free epoch micros of the wall-clock value, regardless of any
    # session time zone
    expect = {
        r[0]: int(r[1].replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        for r in _ROWS
    }
    assert got == expect


def test_stream_tz_adjusted_nanos_to_ntz(spark, tmp_path):
    """A tz-adjusted TIMESTAMP(NANOS) column ('timestamp[ns, tz=UTC]')
    streams through events_stream to the NTZ wall clock of its UTC
    instant, like the batch load(): it reads as a nanos long (an LTZ
    micros read cannot decode nanos parquet) and takes the legacy
    reconstruction, tz-correct under the pinned-UTC session."""
    from dbt_economic_indicators_eu_spark.streaming import pipeline as streaming

    d = str(tmp_path / "tzns")
    (tmp_path / "tzns").mkdir()
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in _ROWS], pa.timestamp("ns", tz="UTC")),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS], pa.string()),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _ROWS], pa.string()),
        }
    )
    pq.write_table(t, f"{d}/events.parquet")
    ev = streaming.events_stream(spark, d)
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    out = streaming.run_available_now(
        ev.select("event_id", "ts"), "t_tz_nanos_stream", output_mode="append"
    )
    assert {r.event_id: r.ts for r in out.collect()} == {r[0]: r[1] for r in _ROWS}


def test_legacy_nanos_truncates_toward_zero_like_duckdb(spark, tmp_path):
    """Pre-epoch nanos reconstruct by TRUNCATION (-1 ns -> epoch), the
    same conversion DuckDB's parquet reader applies — the cross-engine
    twin; numpy floors instead and is documented as divergent."""
    import duckdb
    import numpy as np

    d = str(tmp_path / "preepoch")
    (tmp_path / "preepoch").mkdir()
    ns = np.array([-1, -1999, 1999], dtype="int64")
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns.view("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 1], pa.int64()),
            "event_type": pa.array(["a", "a", "a"], pa.string()),
            "value": pa.array([1.0, 1.0, 1.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"], pa.string()),
        }
    )
    pq.write_table(t, f"{d}/events.parquet")
    got = {r.event_id: r.ts for r in load(spark, d, "events").collect()}
    want = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"SELECT event_id, CAST(ts AS TIMESTAMP) ts FROM '{d}/events.parquet'"
        ).fetchall()
    }
    assert got == want
    assert got[1] == dt.datetime(1970, 1, 1, 0, 0, 0)  # truncated, not floored
