"""Physical-property pins for the storage-maintenance operators
(queries/storage.py round-4 batch): targeted deletion must leave
untouched partitions bit-identical; compaction must actually reduce
file counts without changing content; schema-evolution reads must
surface NULLs for pre-evolution rows.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from dbt_economic_indicators_eu_spark.queries.common import load
from dbt_economic_indicators_eu_spark.queries.storage import (
    _COMPACT_TARGET_BYTES,
    compact_parquet,
    delete_where_partition_scoped,
)

SF_DIR = "/root/testdata/sf0.001"


def _partition_digests(path: str) -> dict[str, str]:
    out = {}
    for d in sorted(glob.glob(f"{path}/event_date=*")):
        h = hashlib.md5()
        for f in sorted(glob.glob(f"{d}/*.parquet")):
            h.update(open(f, "rb").read())
        out[os.path.basename(d)] = h.hexdigest()
    return out


def test_targeted_delete_touches_only_window_partitions(spark, tmp_path):
    path = str(tmp_path / "events_d")
    ev = load(spark, SF_DIR, "events").withColumn("event_date", F.to_date("ts"))
    ev.write.partitionBy("event_date").parquet(path)
    before = _partition_digests(path)

    window = F.col("event_date").between("2024-01-10", "2024-01-14")
    delete_where_partition_scoped(
        spark, path, window, F.col("user_id") % 53 == 0
    )
    after = _partition_digests(path)

    changed = {p for p in before if before[p] != after.get(p)}
    in_window = {p for p in before if "2024-01-10" <= p.split("=")[1] <= "2024-01-14"}
    # every untouched partition is BIT-identical; only window partitions changed
    assert changed <= in_window
    assert set(before) == set(after)  # no partition disappeared entirely

    back = spark.read.parquet(path)
    assert (
        back.filter(window & (F.col("user_id") % 53 == 0)).count() == 0
    )  # purged inside the window
    assert (
        back.filter(~window & (F.col("user_id") % 53 == 0)).count() > 0
    )  # retained outside it


def test_compact_reduces_files_preserves_content(spark, tmp_path):
    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    ev = load(spark, SF_DIR, "events")
    ev.repartition(64).write.parquet(src)
    n_small = len(glob.glob(f"{src}/*.parquet"))
    assert n_small == 64

    n_out = compact_parquet(spark, src, dst, _COMPACT_TARGET_BYTES)
    n_files = len(glob.glob(f"{dst}/*.parquet"))
    assert n_files == n_out < n_small

    a = spark.read.parquet(src).agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("user_id")
    ).collect()[0]
    b = spark.read.parquet(dst).agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("user_id")
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_schema_evolve_read_nulls_for_legacy_rows(spark, tmp_path):
    base = str(tmp_path / "t")
    ev = load(spark, SF_DIR, "events")
    ev.filter(F.col("event_id") % 2 == 0).select("event_id", "value").write.parquet(
        f"{base}/batch=1"
    )
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "value", "event_type"
    ).write.parquet(f"{base}/batch=2")

    back = spark.read.option("mergeSchema", "true").parquet(base)
    assert "event_type" in back.columns
    legacy = back.filter(F.col("batch") == 1)
    assert legacy.filter(F.col("event_type").isNotNull()).count() == 0
    evolved = back.filter(F.col("batch") == 2)
    assert evolved.filter(F.col("event_type").isNull()).count() == 0
    assert back.count() == ev.count()


def test_targeted_delete_removes_fully_purged_partition(spark, tmp_path):
    """A partition whose EVERY row matches the delete predicate must
    disappear — dynamic overwrite alone never rewrites a partition
    absent from the output, which would silently no-op the purge
    exactly when deletion demand is highest."""
    path = str(tmp_path / "events_d")
    ev = load(spark, SF_DIR, "events").withColumn("event_date", F.to_date("ts"))
    ev.write.partitionBy("event_date").parquet(path)

    window = F.col("event_date").between("2024-01-12", "2024-01-12")
    delete_where_partition_scoped(spark, path, window, F.lit(True), schema=ev.schema)

    assert not glob.glob(f"{path}/event_date=2024-01-12")
    back = spark.read.schema(ev.schema).parquet(path)
    assert back.filter(window).count() == 0
    assert back.count() > 0  # other partitions intact


def test_targeted_delete_removes_escaped_partition_dirs(spark, tmp_path):
    """Spark %XX-escapes special characters in 'col=value' partition
    directory names (a 'a:b' value lands as a%3Ab). The fully-purged
    removal must match the ACTUAL escaped directory — a name built
    from the raw value would probe a path that doesn't exist and the
    purge would silently no-op for exactly those values (timestamps,
    free-text keys). NULL partitions land in the Hive default dir and
    must also drop when fully purged."""
    import os

    path = str(tmp_path / "kv")
    df = spark.createDataFrame(
        [("a:b", 1), ("a:b", 2), ("plain", 3), (None, 4), ("keep/me", 5)],
        "k string, v int",
    )
    df.write.partitionBy("k").parquet(path)
    assert os.path.isdir(f"{path}/k=a%3Ab")  # Spark escaped the ':'

    delete_where_partition_scoped(
        spark,
        path,
        F.col("k").isin("a:b", "plain") | F.col("k").isNull(),
        F.lit(True),
        schema=df.schema,
        partition_col="k",
    )
    assert not os.path.isdir(f"{path}/k=a%3Ab")
    assert not os.path.isdir(f"{path}/k=plain")
    assert not os.path.isdir(f"{path}/k=__HIVE_DEFAULT_PARTITION__")
    back = spark.read.schema(df.schema).parquet(path)
    assert [r["k"] for r in back.collect()] == ["keep/me"]


def test_targeted_delete_removes_fractional_timestamp_partitions(spark, tmp_path):
    """Timestamp partition values render differently in Python and
    Spark: str(datetime) pads fractions to six digits ('.500000') while
    Spark's cast-to-string — the same rendering that names the on-disk
    directory — trims them ('.5'). The purge matches via Spark's own
    cast collected in the stats pass, so a fully-purged fractional
    timestamp partition must disappear; a Python-rendered value would
    probe a name that never exists and silently leave it on disk."""
    import datetime
    import os

    path = str(tmp_path / "ts_part")
    t_frac = datetime.datetime(2024, 1, 1, 12, 0, 0, 500000)
    t_whole = datetime.datetime(2024, 1, 2, 12, 0, 0)
    df = spark.createDataFrame(
        [(t_frac, 1), (t_frac, 2), (t_whole, 3)], "t timestamp, v int"
    )
    df.write.partitionBy("t").parquet(path)
    # Pin the divergence this test exists for: the directory carries the
    # Spark-trimmed fraction, not Python's '.500000'.
    dirs = [e for e in os.listdir(path) if e.startswith("t=")]
    assert any(".5" in d and ".500000" not in d for d in dirs), dirs

    delete_where_partition_scoped(
        spark,
        path,
        F.col("t") == t_frac,
        F.lit(True),
        schema=df.schema,
        partition_col="t",
    )
    remaining = [e for e in os.listdir(path) if e.startswith("t=")]
    assert len(remaining) == 1 and ".5" not in remaining[0], remaining
    back = spark.read.schema(df.schema).parquet(path)
    assert [r["v"] for r in back.collect()] == [3]


def test_purge_escaped_partitions_gate_query(spark, tmp_path, monkeypatch):
    """The gate twin must actually drive the escaped-directory path:
    every on-disk partition carries a %3A (the ':' the key embeds), and
    after the build the purged day has no partition directory left —
    under the old Python-rendered matching a fully-purged escaped
    partition survived on disk (the r9 bug class this query gates)."""
    import os
    import shutil

    from dbt_economic_indicators_eu_spark.queries import storage

    built = {}
    real_scratch = storage.session_scratch

    def spy(spark_, key, fill=None):
        base = real_scratch(spark_, key, fill)
        built[key[0]] = base
        return base

    monkeypatch.setattr(storage, "session_scratch", spy)
    # fresh layout per test run: a session scratch dir removed by hand
    # is rebuilt on the next call
    shutil.rmtree(real_scratch(spark, ("purge_escaped", SF_DIR)))
    out = storage.q_purge_escaped_partitions(spark, SF_DIR)
    rows = out.collect()
    base = built["purge_escaped"]
    dirs = [e for e in os.listdir(f"{base}/events_td") if e.startswith("type_day=")]
    assert dirs and all("%3A" in d for d in dirs), dirs[:5]
    day = storage._ESC_DEL_DAY
    assert not any(d.endswith(day) for d in dirs), [d for d in dirs if day in d]
    assert all(not r["type_day"].endswith(f":{day}") for r in rows)
    assert rows  # other days survive
