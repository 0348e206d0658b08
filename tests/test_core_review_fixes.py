"""Regression pins for the engine-core review findings (round 4):
NULL-watermark pass-through, sparse JSON-stat decoding, empty-source
freshness, materialized-ref semantics, dbt NULL-handling in unique/
relationships, SCD2 clock guard, and ref/source cache namespacing.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dbt_economic_indicators_eu_spark.materialize.incremental import (
    merge_upsert,
    run_incremental,
)
from dbt_economic_indicators_eu_spark.materialize.snapshot import scd2_merge
from dbt_economic_indicators_eu_spark.plans.registry import Registry
from dbt_economic_indicators_eu_spark.testing import generic


def test_null_watermark_passes_everything(spark):
    """An empty target (or all-NULL watermark column) must not reject
    later batches forever: col > NULL is NULL, so the watermark filter
    needs the isNull disjunct."""
    empty = spark.createDataFrame([], "k string, ts timestamp, v int")
    incoming = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), 1)], "k string, ts timestamp, v int"
    )
    out = merge_upsert(empty, incoming, "k", watermark_col="ts")
    assert out.count() == 1


def test_null_watermark_partition_scoped(spark, tmp_path):
    target = str(tmp_path / "t")
    empty = spark.createDataFrame([], "k string, ts timestamp, d date, v int")
    empty.write.partitionBy("d").parquet(target)
    incoming = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1), dt.date(2024, 1, 1), 1)],
        "k string, ts timestamp, d date, v int",
    )
    run_incremental(
        spark, target, incoming, unique_key="k", watermark_col="ts", partition_by="d"
    )
    back = spark.read.schema(incoming.schema).parquet(target)
    assert back.count() == 1


def test_jsonstat_sparse_object_value_form(spark):
    """The live Eurostat API (and the reference's parser,
    extract_eurostat.py:133) ships value as a SPARSE OBJECT keyed by
    flat index; the decoder must handle it, not silently emit zero
    rows."""
    from dbt_economic_indicators_eu_spark.sources.jsonstat import decode_jsonstat_str

    sparse = (
        '{"id":["geo","time"],"size":[2,2],'
        '"dimension":{"geo":["DE","FR"],"time":["2022","2023"]},'
        '"value":{"0":1.5,"3":4.5}}'
    )
    rows = {r.flat_index: r for r in decode_jsonstat_str(spark, sparse).collect()}
    assert set(rows) == {0, 3}
    assert rows[0].value == 1.5 and rows[0].codes == {"geo": "DE", "time": "2022"}
    assert rows[3].value == 4.5 and rows[3].codes == {"geo": "FR", "time": "2023"}

    dense = sparse.replace('{"0":1.5,"3":4.5}', "[1.5, null, null, 4.5]")
    dense_rows = {r.flat_index: (r.value, dict(r.codes))
                  for r in decode_jsonstat_str(spark, dense).collect()}
    assert dense_rows == {k: (r.value, dict(r.codes)) for k, r in rows.items()}


def test_freshness_empty_source_is_error(spark):
    """A zero-row source is the dead feed freshness monitoring exists
    to catch — 'pass' via NULL falling through both whens is wrong
    (dbt errors here too)."""
    empty = spark.createDataFrame([], "loaded_at timestamp")
    rep = generic.check_freshness(
        empty, "loaded_at", F.lit("2024-03-01").cast("timestamp")
    ).collect()[0]
    assert rep.freshness_status == "error"
    assert rep.max_loaded_at is None


def test_unique_and_relationships_exclude_null_keys(spark):
    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 3), ("a", 4), ("b", 5)], "k string, v int"
    )
    viol = generic.test_unique(df, "k").collect()
    assert [(r.k, r.n_rows) for r in viol] == [("a", 2)]  # NULL pair not a dup

    child = spark.createDataFrame([("x",), (None,), ("y",)], "fk string")
    parent = spark.createDataFrame([("x",)], "fk string")
    orphans = {r.fk for r in generic.test_relationships(child, parent, "fk").collect()}
    assert orphans == {"y"}  # NULL child key is not an orphan


def test_scd2_requires_clock(spark):
    cur = spark.createDataFrame([("a", 1)], "k string, v int")
    with pytest.raises(ValueError, match="concrete clock"):
        scd2_merge(None, cur, "k", ["v"], None)


def test_ref_resolves_to_materialized_artifact(spark, tmp_path):
    """After run_models, downstream refs must see the STORED relation —
    for a snapshot that includes valid_from/valid_to/is_current, which
    the pre-write recompute does not even have."""
    from dbt_economic_indicators_eu_spark.materialize.run import Relations, run_models

    reg2 = Registry()
    reg2.source("raw", lambda s: s.createDataFrame([("a", 1)], "k string, v int"))

    @reg2.model("snap2", materialization="snapshot", unique_key="k", check_cols=("v",))
    def snap2(ctx):
        return ctx.source("raw")

    @reg2.model("downstream", materialization="table")
    def downstream(ctx):
        return ctx.ref("snap2").select("k", "is_current")  # needs SCD2 cols

    out = run_models(
        Relations(reg2, spark, str(tmp_path / "wh2")), select=["snap2", "downstream"],
        now=dt.datetime(2024, 1, 1),
    )
    rows = out["downstream"].collect()
    assert [(r.k, r.is_current) for r in rows] == [("a", True)]


def test_model_source_name_collision_not_cross_cached(spark):
    reg = Registry()
    reg.source("dual", lambda s: s.createDataFrame([(1,)], "src int"))

    @reg.model("dual")
    def dual_model(ctx):
        return ctx.spark.createDataFrame([(2,)], "mdl int")

    ctx = reg.context(spark)
    assert ctx.ref("dual").columns == ["mdl"]
    assert ctx.source("dual").columns == ["src"]  # not the cached model frame
