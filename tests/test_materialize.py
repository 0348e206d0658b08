"""Tests for incremental upsert (OP-SINK-INCR) and SCD2 snapshot
(OP-SINK-SCD2) merge semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from dbt_economic_indicators_eu_spark.materialize.incremental import merge_upsert
from dbt_economic_indicators_eu_spark.materialize.snapshot import scd2_merge

T1 = dt.datetime(2024, 1, 1)
T2 = dt.datetime(2024, 2, 1)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _same_relation(got, want):
    """Same schema and the same multiset of rows."""
    from collections import Counter

    assert got.schema == want.schema
    assert Counter(got.collect()) == Counter(want.collect())


# ---------------- incremental -------------------------------------------


def test_merge_first_run_passthrough(spark):
    inc = spark.createDataFrame([("k1", 1, 10.0)], "k string, d int, v double")
    out = merge_upsert(None, inc, "k")
    assert _rows(out, "k", "v") == [("k1", 10.0)]


def test_merge_upsert_key_collision_incoming_wins(spark):
    old = spark.createDataFrame([("k1", 1, 10.0), ("k2", 1, 20.0)], "k string, d int, v double")
    inc = spark.createDataFrame([("k2", 2, 99.0), ("k3", 2, 30.0)], "k string, d int, v double")
    out = merge_upsert(old, inc, "k")
    assert _rows(out, "k", "v") == [("k1", 10.0), ("k2", 99.0), ("k3", 30.0)]


def test_merge_watermark_drops_stale_incoming(spark):
    old = spark.createDataFrame([("k1", 5, 10.0)], "k string, d int, v double")
    inc = spark.createDataFrame(
        [("k2", 3, 1.0), ("k3", 7, 2.0)], "k string, d int, v double"
    )
    out = merge_upsert(old, inc, "k", watermark_col="d")
    # d=3 is behind max(existing.d)=5 → dropped; d=7 appended
    assert _rows(out, "k", "d") == [("k1", 5), ("k3", 7)]


def test_merge_append_new_columns_schema_evolution(spark):
    """on_schema_change='append_new_columns' (fct_economic_indicators.sql:5):
    incoming brings a column the target lacks — both survive the union."""
    old = spark.createDataFrame([("k1", 1, 10.0)], "k string, d int, v double")
    inc = spark.createDataFrame([("k2", 2, 20.0, "new")], "k string, d int, v double, extra string")
    out = merge_upsert(old, inc, "k")
    assert set(out.columns) == {"k", "d", "v", "extra"}
    got = {r["k"]: r["extra"] for r in out.collect()}
    assert got == {"k1": None, "k2": "new"}


# ---------------- SCD2 snapshot ------------------------------------------


def _snap_first(spark):
    cur = spark.createDataFrame(
        [("k1", "DE", 100.0), ("k2", "FR", 200.0)], "gdp_key string, geo string, gdp double"
    )
    return scd2_merge(None, cur, "gdp_key", ["gdp"], T1)


def test_scd2_first_run_opens_all(spark):
    snap = _snap_first(spark)
    rows = snap.collect()
    assert len(rows) == 2
    assert all(r["is_current"] and r["valid_to"] is None and r["valid_from"] == T1 for r in rows)


def test_scd2_new_changed_unchanged_deleted(spark):
    snap = _snap_first(spark)
    cur2 = spark.createDataFrame(
        [("k1", "DE", 100.0),  # unchanged
         ("k2", "FR", 250.0),  # changed check col
         ("k4", "IT", 400.0)], # new key
        "gdp_key string, geo string, gdp double",
    )
    out = scd2_merge(snap, cur2, "gdp_key", ["gdp"], T2).collect()
    by = {}
    for r in out:
        by.setdefault(r["gdp_key"], []).append(r)
    # unchanged k1: single open row from T1
    (k1,) = by["k1"]
    assert k1["is_current"] and k1["valid_from"] == T1 and k1["valid_to"] is None
    # changed k2: closed T1→T2 + open from T2 with new value
    k2 = sorted(by["k2"], key=lambda r: r["is_current"])
    assert len(k2) == 2
    assert not k2[0]["is_current"] and k2[0]["valid_to"] == T2 and k2[0]["gdp"] == 200.0
    assert k2[1]["is_current"] and k2[1]["valid_from"] == T2 and k2[1]["gdp"] == 250.0
    # new k4: open from T2
    (k4,) = by["k4"]
    assert k4["is_current"] and k4["valid_from"] == T2


def test_scd2_hard_delete_invalidation(spark):
    """invalidate_hard_deletes=True (snap_gdp_history.sql:10): keys absent
    from current are closed."""
    snap = _snap_first(spark)
    cur2 = spark.createDataFrame([("k1", "DE", 100.0)], "gdp_key string, geo string, gdp double")
    out = scd2_merge(snap, cur2, "gdp_key", ["gdp"], T2).collect()
    k2 = [r for r in out if r["gdp_key"] == "k2"]
    assert len(k2) == 1
    assert not k2[0]["is_current"] and k2[0]["valid_to"] == T2


def test_scd2_rerun_idempotent_and_null_transitions(spark):
    """Re-running with identical source changes nothing; NULL→value on a
    check col registers as a change (eqNullSafe)."""
    cur = spark.createDataFrame(
        [("k1", "DE", None)], "gdp_key string, geo string, gdp double"
    )
    snap = scd2_merge(None, cur, "gdp_key", ["gdp"], T1)
    again = scd2_merge(snap, cur, "gdp_key", ["gdp"], T2)
    assert _rows(again, "gdp_key", "is_current") == [("k1", True)]
    assert again.collect()[0]["valid_from"] == T1  # untouched, not re-opened

    cur2 = spark.createDataFrame([("k1", "DE", 5.0)], "gdp_key string, geo string, gdp double")
    out = scd2_merge(snap, cur2, "gdp_key", ["gdp"], T2)
    flags = sorted((r["is_current"], r["gdp"]) for r in out.collect())
    assert flags == [(False, None), (True, 5.0)]


def test_scd2_closed_history_carried_verbatim(spark):
    snap = _snap_first(spark)
    cur2 = spark.createDataFrame([("k1", "DE", 150.0), ("k2", "FR", 200.0)],
                                 "gdp_key string, geo string, gdp double")
    snap2 = scd2_merge(snap, cur2, "gdp_key", ["gdp"], T2)
    t3 = dt.datetime(2024, 3, 1)
    cur3 = spark.createDataFrame([("k1", "DE", 150.0), ("k2", "FR", 200.0)],
                                 "gdp_key string, geo string, gdp double")
    snap3 = scd2_merge(snap2, cur3, "gdp_key", ["gdp"], t3)
    # the closed k1 version (100.0, T1→T2) must still be there, unchanged
    closed = [r for r in snap3.collect() if not r["is_current"]]
    assert len(closed) == 1
    assert closed[0]["gdp"] == 100.0 and closed[0]["valid_to"] == T2
    assert snap3.filter(F.col("is_current")).count() == 2


# -- environment/config macro ports (SURVEY §2.11) --------------------------


def test_schema_name_policy():
    from dbt_economic_indicators_eu_spark.materialize.run import schema_name

    # data_quality.sql:66-73 — prod bare, everything else prefixed
    assert schema_name("prod", "marts") == "marts"
    assert schema_name("prod", " marts ") == "marts"
    assert schema_name("dev", "marts") == "dev_marts"
    assert schema_name("ci", " staging ") == "ci_staging"


def test_observe_row_count_piggybacks_on_action(spark, tmp_path):
    from dbt_economic_indicators_eu_spark.materialize.run import (
        log_observed,
        observe_row_count,
    )

    df = spark.range(37).selectExpr("id", "id * 2 AS v")
    observed, obs = observe_row_count(df, "t_obs")
    observed.write.mode("overwrite").parquet(str(tmp_path / "t"))
    assert log_observed("t_obs", obs) == 37


def test_run_models_target_namespacing(spark, tmp_path):
    """A dev-target run lands under dev_<schema>/ and cannot collide
    with the prod namespace (data_quality.sql:66-73 policy, enforced).
    The relations run_models hands back equal what open_stored reads,
    for a table and for a rowless partitioned table (no footers: typed
    by its stored shape)."""
    import os

    from dbt_economic_indicators_eu_spark.materialize.incremental import open_stored
    from dbt_economic_indicators_eu_spark.materialize.run import (
        Relations,
        run_models,
        stored_shape,
        warehouse_base,
    )
    from dbt_economic_indicators_eu_spark.plans.registry import Registry

    reg = Registry()

    @reg.model("t_ns_table", materialization="table")
    def t_ns_table(ctx):
        return spark.range(3).selectExpr("id", "id * 2 AS v")

    @reg.model("t_ns_empty", materialization="table", partition_by="p")
    def t_ns_empty(ctx):
        return spark.range(0).selectExpr("id", "CAST(id AS INT) AS p", "'x' AS s")

    wh = str(tmp_path / "wh")
    out = run_models(Relations(reg, spark, warehouse_base(wh, "dev", "marts")))
    assert out["t_ns_table"].count() == 3
    assert os.path.isdir(os.path.join(wh, "dev_marts", "t_ns_table"))
    assert not os.path.exists(os.path.join(wh, "marts"))
    base = os.path.join(wh, "dev_marts")
    _same_relation(out["t_ns_table"], open_stored(spark, os.path.join(base, "t_ns_table")))
    empty = open_stored(
        spark, os.path.join(base, "t_ns_empty"),
        lambda: stored_shape(reg.get("t_ns_empty"), reg.context(spark).ref("t_ns_empty")).schema,
    )
    assert out["t_ns_empty"].count() == 0
    _same_relation(out["t_ns_empty"], empty)

    run_models(Relations(reg, spark, warehouse_base(wh, "prod", "marts")))
    assert os.path.isdir(os.path.join(wh, "marts", "t_ns_table"))


# ---------------- rerun idempotence (chaos) ------------------------------
#
# The reference's snapshot and incremental semantics are idempotent
# across reruns (snapshots/snap_gdp_history.sql: a re-run with an
# identical source changes nothing; fct_economic_indicators.sql:28-31:
# the watermark predicate drops already-applied rows). The single-shot
# oracle can't catch a double-apply bug, so these run each FULL
# materialization (disk round-trip included) twice over the same input
# and require identical table content and schema.


def _table_state(spark, path):
    df = spark.read.parquet(str(path))
    return (
        tuple((f.name, f.dataType.simpleString()) for f in sorted(df.schema, key=lambda f: f.name)),
        sorted(map(tuple, df.select(*sorted(df.columns)).collect())),
    )


def test_run_incremental_rerun_is_idempotent(spark, tmp_path):
    from dbt_economic_indicators_eu_spark.materialize.incremental import run_incremental

    target = tmp_path / "fct"
    base = spark.createDataFrame(
        [("k1", 1, 10.0), ("k2", 1, 20.0)], "k string, d int, v double"
    )
    batch = spark.createDataFrame(
        [("k2", 2, 99.0), ("k3", 2, 30.0)], "k string, d int, v double"
    )
    run_incremental(spark, str(target), base, "k", watermark_col="d")
    run_incremental(spark, str(target), batch, "k", watermark_col="d")
    once = _table_state(spark, target)
    # chaos: apply the SAME batch again (simulates an orchestrator retry
    # after a lost success signal) — watermark must drop every row
    run_incremental(spark, str(target), batch, "k", watermark_col="d")
    assert _table_state(spark, target) == once
    # and a third no-op rerun on the keyed (no-watermark) path: incoming
    # replaces rows with identical values, content must still converge
    run_incremental(spark, str(target), batch, "k")
    assert _table_state(spark, target)[1] == once[1]


def test_run_snapshot_rerun_is_idempotent(spark, tmp_path):
    import datetime as dt

    from dbt_economic_indicators_eu_spark.materialize.snapshot import run_snapshot

    snap = tmp_path / "snap"
    src_v1 = spark.createDataFrame(
        [("DE", 100.0), ("FR", 200.0)], "geo string, gdp double"
    )
    src_v2 = spark.createDataFrame(
        [("DE", 111.0), ("IT", 300.0)], "geo string, gdp double"  # FR hard-deleted
    )
    run_snapshot(spark, str(snap), src_v1, "geo", ["gdp"], dt.datetime(2024, 1, 1))
    run_snapshot(spark, str(snap), src_v2, "geo", ["gdp"], dt.datetime(2024, 2, 1))
    once = _table_state(spark, snap)
    # chaos: rerun the SAME source at a LATER now — unchanged rows carry
    # through verbatim, nothing closes/opens, so `now` must not leak in
    run_snapshot(spark, str(snap), src_v2, "geo", ["gdp"], dt.datetime(2024, 3, 1))
    assert _table_state(spark, snap) == once
    # row-level sanity: exactly one open row per live key, FR closed
    df = spark.read.parquet(str(snap))
    open_rows = {r.geo: r.gdp for r in df.filter("is_current").collect()}
    assert open_rows == {"DE": 111.0, "IT": 300.0}
    closed = df.filter("NOT is_current")
    assert {r.geo for r in closed.collect()} == {"DE", "FR"}


def test_run_incremental_partition_scoped_merge(spark, tmp_path):
    """partition_by merges rewrite ONLY the touched partitions: after a
    batch landing entirely in d=2, the d=1 partition's parquet files
    are bit-identical on disk (same paths, same bytes) — the
    O(batch partitions) property the 100 TB posture claims."""
    import glob
    import hashlib
    import os

    from dbt_economic_indicators_eu_spark.materialize.incremental import run_incremental

    target = str(tmp_path / "fct_p")
    base = spark.createDataFrame(
        [("k1", 1, 10.0), ("k2", 1, 20.0), ("k3", 2, 30.0)],
        "k string, d int, v double",
    )
    run_incremental(spark, target, base, "k", partition_by="d")
    assert os.path.isdir(os.path.join(target, "d=1"))

    def files(part):
        out = {}
        for p in glob.glob(os.path.join(target, f"d={part}", "*.parquet")):
            out[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    d1_before = files(1)
    assert d1_before

    batch = spark.createDataFrame(
        [("k3", 2, 99.0), ("k4", 2, 40.0)], "k string, d int, v double"
    )
    run_incremental(spark, target, batch, "k", partition_by="d")
    assert files(1) == d1_before  # untouched partition: same files, same bytes
    got = {
        (r.k): (r.d, r.v)
        for r in spark.read.parquet(target).collect()
    }
    assert got == {"k1": (1, 10.0), "k2": (1, 20.0), "k3": (2, 99.0), "k4": (2, 40.0)}

    # watermark + partition scope: stale batch (d column is also the
    # watermark here) drops everything -> zero partition changes
    d2_before = files(2)
    run_incremental(spark, target, batch, "k", watermark_col="v", partition_by="d")
    assert files(1) == d1_before and files(2) == d2_before


def test_partition_scoped_merge_keeps_null_partition_rows(spark, tmp_path):
    """An incoming batch touching the NULL partition must MERGE with the
    existing NULL-partition rows, not replace them: isin() is NULL for a
    NULL partition value, so a non-null-safe membership filter would
    drop existing rows while dynamic overwrite still rewrites the
    __HIVE_DEFAULT_PARTITION__ directory — silent data loss."""
    import datetime as dt

    from dbt_economic_indicators_eu_spark.materialize.incremental import (
        run_incremental,
    )

    target = str(tmp_path / "t")
    existing = spark.createDataFrame(
        [("k1", None, 1.0), ("k2", dt.date(2024, 1, 5), 2.0)],
        "k string, d date, v double",
    )
    existing.write.partitionBy("d").parquet(target)

    incoming = spark.createDataFrame(
        [("k3", None, 3.0)], "k string, d date, v double"
    )
    run_incremental(spark, target, incoming, unique_key="k", partition_by="d")

    got = {
        r["k"]: (r["d"], r["v"])
        for r in spark.read.parquet(target).collect()
    }
    assert set(got) == {"k1", "k2", "k3"}  # k1 survived the NULL-partition merge
    assert got["k1"] == (None, 1.0) and got["k3"] == (None, 3.0)


def test_snapshot_rowless_prior_recovers(spark, tmp_path):
    """A first snapshot run over an EMPTY source slice writes a
    directory with no parquet footers; the next run must treat it as
    first-run (footer probe) instead of crashing UNABLE_TO_INFER_SCHEMA
    forever — and the rowless read-back must carry the SCD2 columns so
    downstream refs can select is_current/valid_from. Both read-backs
    equal what open_stored reads."""
    import os

    from dbt_economic_indicators_eu_spark.materialize.incremental import open_stored
    from dbt_economic_indicators_eu_spark.materialize.run import (
        Relations,
        run_models,
        stored_shape,
    )
    from dbt_economic_indicators_eu_spark.plans.registry import Registry

    wh = str(tmp_path / "wh")

    def build(n_rows):
        reg = Registry()

        @reg.model(
            "snap", materialization="snapshot",
            unique_key="id", check_cols=("v",),
        )
        def _s(ctx):
            return (
                ctx.spark.range(n_rows)
                .select("id", (F.col("id") * 10).alias("v"))
            )

        return reg

    reg0 = build(0)
    out1 = run_models(Relations(reg0, spark, wh), now="2024-01-01 00:00:00", select=["snap"])
    # rowless read-back still exposes the stored-relation schema
    assert {"valid_from", "valid_to", "is_current"} <= set(out1["snap"].columns)
    assert out1["snap"].count() == 0
    path = os.path.join(wh, "snap")
    _same_relation(out1["snap"], open_stored(
        spark, path,
        lambda: stored_shape(reg0.get("snap"), reg0.context(spark).ref("snap")).schema,
    ))
    # second run over real rows: footer probe reads the rowless prior
    # as first-run instead of crashing
    out2 = run_models(
        Relations(build(3), spark, wh), now="2024-02-01 00:00:00", select=["snap"]
    )
    rows = out2["snap"].collect()
    assert len(rows) == 3 and all(r.is_current for r in rows)
    # the relation the write hands back is the one open_stored reads
    _same_relation(out2["snap"], open_stored(spark, path))


# ---------------- review-pass regressions (round 8) ----------------------


def test_scd2_null_key_row_survives_runs(spark):
    """A NULL unique_key row must TRACK across runs like any other key
    (null-safe join + side-presence markers), not silently vanish: the
    old key-isNotNull presence test dropped the open NULL-key row from
    every post-first run."""

    def rows(df):  # None-safe sort (py3 can't order str vs None)
        got = [(r["k"], r["v"], r["is_current"]) for r in df.collect()]
        return sorted(got, key=lambda t: (t[0] is not None, t[0] or "", t[1]))

    cur1 = spark.createDataFrame([(None, 1.0), ("k1", 2.0)], "k string, v double")
    s1 = scd2_merge(None, cur1, "k", ["v"], T1)
    assert rows(s1) == [(None, 1.0, True), ("k1", 2.0, True)]

    # unchanged second run: NULL-key row carries through untouched
    s2 = scd2_merge(s1, cur1, "k", ["v"], T2)
    assert rows(s2) == [(None, 1.0, True), ("k1", 2.0, True)]

    # changed second run: NULL-key history closes and reopens like a key
    cur2 = spark.createDataFrame([(None, 9.0), ("k1", 2.0)], "k string, v double")
    s3 = scd2_merge(s1, cur2, "k", ["v"], T2)
    assert rows(s3) == [
        (None, 1.0, False),
        (None, 9.0, True),
        ("k1", 2.0, True),
    ]
    # hard delete of the NULL-key entity closes it
    cur3 = spark.createDataFrame([("k1", 2.0)], "k string, v double")
    s4 = scd2_merge(s1, cur3, "k", ["v"], T2)
    assert rows(s4) == [(None, 1.0, False), ("k1", 2.0, True)]


def test_scd2_run_snapshot_rejects_duplicate_keys(spark, tmp_path):
    """Duplicate unique_key rows fan out the SCD2 full_outer join and
    compound multiple open rows per key every run — run_snapshot must
    fail fast instead (dbt likewise requires one row per key)."""
    import pytest

    from dbt_economic_indicators_eu_spark.materialize.snapshot import run_snapshot

    dup = spark.createDataFrame([("k1", 1.0), ("k1", 2.0)], "k string, v double")
    with pytest.raises(ValueError, match="duplicate"):
        run_snapshot(spark, str(tmp_path / "snap"), dup, "k", ["v"], T1)


def test_swap_recovery_resolves_every_crash_state(spark, tmp_path):
    """recover_interrupted_swap must resolve each state a crashed
    swap_into_place can leave: promote a complete .tmp when the
    rename-aside happened (the .old directory proves the tmp write
    finished), restore .old when .tmp is gone, drop a stale .old
    beside a live table, and NOT promote a lone .tmp (it may be a
    partial first write)."""
    import os
    import shutil

    from dbt_economic_indicators_eu_spark.materialize.incremental import (
        recover_interrupted_swap,
    )

    def write(path, tag):
        spark.createDataFrame([(tag,)], "tag string").write.mode(
            "overwrite"
        ).parquet(path)

    def tag(path):
        return spark.read.parquet(path).collect()[0]["tag"]

    # crash between the renames: .old = old state, .tmp = complete new
    p = str(tmp_path / "between")
    write(p + ".old", "old")
    write(p + ".tmp", "new")
    recover_interrupted_swap(p)
    assert tag(p) == "new"
    assert not os.path.exists(p + ".old") and not os.path.exists(p + ".tmp")

    # crash after tmp promoted but before .old cleanup... represented
    # by: .old present, no .tmp → restore .old (rollback)
    p = str(tmp_path / "rollback")
    write(p + ".old", "old")
    recover_interrupted_swap(p)
    assert tag(p) == "old"
    assert not os.path.exists(p + ".old")

    # live table + stale .old → drop the stale copy, table untouched
    p = str(tmp_path / "stale_old")
    write(p, "live")
    write(p + ".old", "old")
    recover_interrupted_swap(p)
    assert tag(p) == "live"
    assert not os.path.exists(p + ".old")

    # lone .tmp with no .old: a first write that may have crashed
    # mid-write — must NOT be promoted to a live table
    p = str(tmp_path / "lone_tmp")
    write(p + ".tmp", "maybe_partial")
    recover_interrupted_swap(p)
    assert not os.path.exists(p)
    assert os.path.exists(p + ".tmp")
    shutil.rmtree(p + ".tmp")


def test_run_snapshot_survives_crash_between_renames(spark, tmp_path):
    """End-to-end: a run_snapshot rerun after a crash between the two
    swap renames must recover the completed new state and rerun
    idempotently — NOT read the missing path as first-run and install
    a history-less snapshot (the silent-history-loss failure mode)."""
    import os
    import shutil

    from dbt_economic_indicators_eu_spark.materialize.snapshot import run_snapshot

    snap = str(tmp_path / "snap")
    v1 = spark.createDataFrame([("k1", 1.0)], "k string, v double")
    v2 = spark.createDataFrame([("k1", 2.0)], "k string, v double")
    run_snapshot(spark, snap, v1, "k", ["v"], T1)
    run_snapshot(spark, snap, v2, "k", ["v"], T2)
    want = _rows(spark.read.parquet(snap), "k", "v", "is_current")
    assert len(want) == 2  # closed v1 row + open v2 row

    # simulate the crash window: state2 fully written to .tmp, state1
    # renamed aside, path missing
    shutil.move(snap, snap + ".tmp")
    run_snapshot(spark, snap, v1, "k", ["v"], T1)
    os.rename(snap, snap + ".old")

    # unattended rerun of the same v2 batch: must promote .tmp
    # (state2), read it as prev, and stay idempotent
    run_snapshot(spark, snap, v2, "k", ["v"], T2)
    assert _rows(spark.read.parquet(snap), "k", "v", "is_current") == want
    assert not os.path.exists(snap + ".old")
    assert not os.path.exists(snap + ".tmp")


def test_run_incremental_survives_crash_between_renames(spark, tmp_path):
    """The global-merge path's swap gets the same recovery guarantee:
    after a simulated crash between the renames, the next batch must
    merge against the recovered accumulated table, not treat the
    missing path as first-run (permanent loss of prior batches)."""
    import os
    import shutil

    from dbt_economic_indicators_eu_spark.materialize.incremental import (
        run_incremental,
    )

    tgt = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([("k1", 1, 1.0)], "k string, d int, v double")
    b2 = spark.createDataFrame([("k2", 2, 2.0)], "k string, d int, v double")
    b3 = spark.createDataFrame([("k3", 3, 3.0)], "k string, d int, v double")
    run_incremental(spark, tgt, b1, "k")
    run_incremental(spark, tgt, b2, "k")

    # crash window: merged {b1,b2} sits complete in .tmp, the b1-only
    # table was renamed aside, path is missing
    shutil.move(tgt, tgt + ".tmp")
    run_incremental(spark, str(tmp_path / "only_b1"), b1, "k")
    shutil.move(str(tmp_path / "only_b1"), tgt + ".old")

    run_incremental(spark, tgt, b3, "k")
    assert _rows(spark.read.parquet(tgt), "k", "v") == [
        ("k1", 1.0), ("k2", 2.0), ("k3", 3.0),
    ]
    assert not os.path.exists(tgt + ".old")
    assert not os.path.exists(tgt + ".tmp")


def test_stored_resolver_recovers_crashed_swap(spark, tmp_path):
    """Every stored-relation READ path must finish a crashed swap, not
    just the writer's own next run: a downstream-only run (or test/
    docs) resolving an upstream whose swap crashed between the renames
    must see the recovered relation — a None here would silently
    rebuild the downstream against a single-batch recompute. The one
    reader (open_stored) behind the resolver also covers the other
    stored-relation states: missing, rowless, and mixed footers."""
    import os
    import shutil

    from dbt_economic_indicators_eu_spark.materialize.incremental import (
        open_stored,
    )
    from dbt_economic_indicators_eu_spark.materialize.run import (
        make_stored_resolver,
    )
    from dbt_economic_indicators_eu_spark.plans.registry import Registry

    reg = Registry()

    @reg.model("acc", materialization="incremental", unique_key="k")
    def acc(ctx):  # pragma: no cover - resolver short-circuits the build
        raise AssertionError("resolver must not rebuild")

    base = str(tmp_path)
    path = os.path.join(base, "acc")
    spark.createDataFrame([("k1", 1.0)], "k string, v double").write.parquet(
        path + ".tmp"
    )
    os.makedirs(path + ".old")  # rename-aside happened; crash before promote
    resolver = make_stored_resolver(reg, lambda n: open_stored(spark, os.path.join(base, n)))
    got = resolver("acc")
    assert got is not None and got.collect()[0]["k"] == "k1"
    assert os.path.isdir(path)
    assert not os.path.exists(path + ".old")
    assert not os.path.exists(path + ".tmp")
    shutil.rmtree(path)

    # never materialized: None, so the caller falls back to a build
    assert open_stored(spark, path) is None
    assert resolver("acc") is None

    # a crashed swap read directly: the recovered relation
    spark.createDataFrame([("k2", 2.0)], "k string, v double").write.parquet(
        path + ".tmp"
    )
    os.makedirs(path + ".old")
    got = open_stored(spark, path)
    assert [r["k"] for r in got.collect()] == ["k2"]
    assert not os.path.exists(path + ".old")
    shutil.rmtree(path)

    # rowless directory (no footers): a typed empty frame with a schema
    # thunk, None without one
    os.makedirs(os.path.join(path, "d=1"))
    empty = open_stored(spark, path, lambda: "k string, v double")
    assert empty.columns == ["k", "v"] and empty.count() == 0
    assert open_stored(spark, path) is None
    assert resolver("acc") is None
    shutil.rmtree(path)

    # mixed footers (a partition-scoped append_new_columns batch): the
    # evolved column survives whichever footer would be sampled
    spark.createDataFrame([("a", 1.0)], "k string, v double").write.parquet(
        os.path.join(path, "d=1")
    )
    spark.createDataFrame([("b", 2.0, "new")], "k string, v double, c string").write.parquet(
        os.path.join(path, "d=2")
    )
    mixed = open_stored(spark, path)
    assert {(r["k"], r["c"]) for r in mixed.collect()} == {("a", None), ("b", "new")}
    assert "c" in resolver("acc").columns


def test_scd2_dup_guard_survives_key_named_count(spark, tmp_path):
    """The duplicate-key guard must use a collision-free agg alias: a
    unique_key literally named 'count' would otherwise make the
    groupBy().count() output ambiguous (AMBIGUOUS_REFERENCE) instead
    of raising the intended duplicate-key ValueError — and a clean
    run on such a key must simply succeed."""
    import pytest

    from dbt_economic_indicators_eu_spark.materialize.snapshot import run_snapshot

    ok = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "count string, v double")
    run_snapshot(spark, str(tmp_path / "snap_ok"), ok, "count", ["v"], T1)
    dup = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "count string, v double")
    with pytest.raises(ValueError, match="duplicate"):
        run_snapshot(spark, str(tmp_path / "snap_dup"), dup, "count", ["v"], T1)
    # and the guard's own internal alias as the key
    ok2 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "__n string, v double")
    run_snapshot(spark, str(tmp_path / "snap_ok2"), ok2, "__n", ["v"], T1)
    dup2 = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "__n string, v double")
    with pytest.raises(ValueError, match="duplicate"):
        run_snapshot(spark, str(tmp_path / "snap_dup2"), dup2, "__n", ["v"], T1)


def test_merge_watermark_survives_wm_column_clash(spark):
    """An incoming frame already carrying a column literally named
    __wm must not break the watermark crossJoin (internal alias is
    chosen collision-free)."""
    ex = spark.createDataFrame([("k1", 1, 1.0)], "k string, d int, __wm double")
    inc = spark.createDataFrame(
        [("k1", 2, 2.0), ("k2", 0, 3.0)], "k string, d int, __wm double"
    )
    out = merge_upsert(ex, inc, "k", watermark_col="d")
    # only the d>1 incoming row passes the watermark (k2's d=0 drops),
    # and it upserts over the existing k1 row
    assert _rows(out, "k", "d") == [("k1", 2)]
    assert set(out.columns) == {"k", "d", "__wm"}


def test_partitioned_schema_evolution_survives_mixed_footers(spark, tmp_path):
    """append_new_columns + partition-scoped merge leaves mixed-schema
    partitions (only touched partitions rewrite); the target read-back
    must merge footers or the evolved column silently disappears — and
    the NEXT merge would rewrite kept rows without its values. The
    frame the merge hands back reads the mixed-footer table the same
    as open_stored."""
    from dbt_economic_indicators_eu_spark.materialize.incremental import (
        open_stored,
        run_incremental,
    )

    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0)], "k string, d int, v double"
    )
    run_incremental(spark, target, base, "k", partition_by="d")

    # batch touching ONLY d=2 adds column c
    batch = spark.createDataFrame([("b", 2, 21.0, "new")], "k string, d int, v double, c string")
    written = run_incremental(spark, target, batch, "k", partition_by="d")
    _same_relation(spark.read.schema(written.schema).parquet(target), open_stored(spark, target))

    back = spark.read.option("mergeSchema", "true").parquet(target)
    assert "c" in back.columns
    got = {(r["k"], r["c"]) for r in back.collect()}
    assert got == {("a", None), ("b", "new")}

    # a further merge into the UNTOUCHED partition must not lose c
    batch2 = spark.createDataFrame([("a", 1, 11.0)], "k string, d int, v double")
    run_incremental(spark, target, batch2, "k", partition_by="d")
    back2 = spark.read.option("mergeSchema", "true").parquet(target)
    got2 = {(r["k"], r["v"], r["c"]) for r in back2.collect()}
    assert got2 == {("a", 11.0, None), ("b", 21.0, "new")}
