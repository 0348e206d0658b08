"""Registry semantics: ref composition, mock precedence, cycle and
duplicate detection, contract enforcement, and run_models
materializations (view/table/incremental/snapshot end-to-end)."""

from __future__ import annotations

import datetime as dt
import functools

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from dbt_economic_indicators_eu_spark.materialize.run import run_models
from dbt_economic_indicators_eu_spark.plans.registry import Registry, RegistryError
from dbt_economic_indicators_eu_spark.testing.contracts import ContractViolation


def _toy_registry(spark):
    reg = Registry()
    reg.source("raw", lambda s: s.createDataFrame([(1, 2.0), (2, 4.0)], "id int, v double"))

    @reg.model("base")
    def base(ctx):
        return ctx.source("raw").filter(F.col("v") > 0)

    @reg.model("doubled")
    def doubled(ctx):
        return ctx.ref("base").select("id", (F.col("v") * 2).alias("v2"))

    return reg


def test_ref_composes_lazily_and_memoizes(spark):
    reg = _toy_registry(spark)
    ctx = reg.context(spark)
    out = ctx.ref("doubled")
    assert [r["v2"] for r in out.orderBy("id").collect()] == [4.0, 8.0]
    assert ctx.ref("base") is ctx.ref("base")  # memoized, single plan reused


def test_mocks_take_precedence(spark):
    reg = _toy_registry(spark)
    mock = spark.createDataFrame([(9, 100.0)], "id int, v double")
    ctx = reg.context(spark, mocks={"base": mock})
    assert [r["v2"] for r in ctx.ref("doubled").collect()] == [200.0]


def test_cycle_detection(spark):
    reg = Registry()

    @reg.model("a")
    def a(ctx):
        return ctx.ref("b")

    @reg.model("b")
    def b(ctx):
        return ctx.ref("a")

    with pytest.raises(RegistryError, match="cycle"):
        reg.context(spark).ref("a")


def test_duplicate_and_unknown_models(spark):
    reg = _toy_registry(spark)
    with pytest.raises(RegistryError, match="duplicate"):

        @reg.model("base")
        def again(ctx):  # pragma: no cover
            raise AssertionError

    with pytest.raises(RegistryError, match="unknown model"):
        reg.context(spark).ref("nope")


def test_contract_enforced_before_any_action(spark):
    reg = Registry()
    contract = StructType(
        [StructField("id", StringType()), StructField("v", DoubleType())]  # id declared string
    )

    @reg.model("c", contract=contract)
    def c(ctx):
        return ctx.spark.createDataFrame([(1, 2.0)], "id int, v double")

    with pytest.raises(ContractViolation, match="type int != declared string"):
        reg.context(spark).ref("c")


def test_run_models_all_materializations(spark, tmp_path):
    wh = str(tmp_path / "wh")
    reg = Registry()
    reg.source("raw", lambda s: s.createDataFrame(
        [("k1", 1, 10.0), ("k2", 1, 20.0)], "k string, d int, v double"))

    @reg.model("v_model")
    def v_model(ctx):
        return ctx.source("raw")

    @reg.model("t_model", materialization="table")
    def t_model(ctx):
        return ctx.ref("v_model").withColumn("v2", F.col("v") * 2)

    @reg.model("i_model", materialization="incremental", unique_key="k")
    def i_model(ctx):
        return ctx.ref("v_model")

    @reg.model("s_model", materialization="snapshot", unique_key="k", check_cols=("v",))
    def s_model(ctx):
        return ctx.ref("v_model")

    out = run_models(reg, spark, wh, now=dt.datetime(2024, 1, 1))
    assert out["t_model"].count() == 2
    assert out["i_model"].count() == 2
    assert out["s_model"].filter(F.col("is_current")).count() == 2
    assert spark.table("v_model").count() == 2  # temp view registered

    # second run: raw gains a row + a changed value → incremental upserts,
    # snapshot closes/opens
    reg2 = Registry()
    reg2.source("raw", lambda s: s.createDataFrame(
        [("k1", 2, 99.0), ("k3", 2, 30.0)], "k string, d int, v double"))
    for name, mat, kw in [
        ("v_model", "view", {}),
        ("i_model", "incremental", {"unique_key": "k"}),
        ("s_model", "snapshot", {"unique_key": "k", "check_cols": ("v",)}),
    ]:
        def make(n):
            def build(ctx):
                return ctx.source("raw")
            return build
        reg2.register(
            __import__("dbt_economic_indicators_eu_spark.plans.registry", fromlist=["ModelDef"]).ModelDef(
                name=name, build=make(name), materialization=mat, **kw
            )
        )
    out2 = run_models(reg2, spark, wh, select=["i_model", "s_model"], now=dt.datetime(2024, 2, 1))
    got = {r["k"]: r["v"] for r in out2["i_model"].collect()}
    assert got == {"k1": 99.0, "k2": 20.0, "k3": 30.0}
    snap = out2["s_model"]
    assert snap.filter(F.col("is_current")).count() == 2  # k1(new ver), k3; k2 closed
    assert snap.filter(~F.col("is_current")).count() == 2  # old k1 + deleted k2


@pytest.mark.parametrize("threads", [1, 4])
def test_selected_run_reads_stored_unselected_upstream(spark, tmp_path, threads):
    """dbt ref semantics under an explicit --select (ADVICE r5): a
    selected mart whose UNSELECTED incremental upstream was
    materialized by an earlier run must read the STORED relation —
    a fresh recompute would see only the current source batch and
    silently drop the accumulated history. The view hop between them
    pins the transitive case (views recompute, but their refs resolve
    stored). Parametrized over the serial and threaded schedulers —
    both share the stored-resolver context."""
    wh = str(tmp_path / "wh")

    def build_reg(rows):
        reg = Registry()
        reg.source("raw", lambda s: s.createDataFrame(rows, "k string, v double"))

        @reg.model("i_up", materialization="incremental", unique_key="k")
        def i_up(ctx):
            return ctx.source("raw")

        @reg.model("v_mid")
        def v_mid(ctx):
            return ctx.ref("i_up")

        @reg.model("mart", materialization="table")
        def mart(ctx):
            return ctx.ref("v_mid")

        return reg

    run_models(build_reg([("k1", 1.0), ("k2", 2.0)]), spark, wh,
               now=dt.datetime(2024, 1, 1), threads=threads)

    # source moves on to a NEW batch; only the mart is selected, so
    # i_up must come from the warehouse (k1,k2), not a k3-only recompute
    out = run_models(build_reg([("k3", 3.0)]), spark, wh,
                     select=["mart"], now=dt.datetime(2024, 2, 1),
                     threads=threads)
    assert {r["k"] for r in out["mart"].collect()} == {"k1", "k2"}
    # and the stored upstream itself was not rewritten by the run
    stored = spark.read.parquet(f"{wh}/i_up")
    assert {r["k"] for r in stored.collect()} == {"k1", "k2"}

    # selecting the incremental itself still MERGES the new batch
    # (selected names bypass the stored fallback)
    out = run_models(build_reg([("k3", 3.0)]), spark, wh,
                     select=["i_up", "mart"], now=dt.datetime(2024, 3, 1),
                     threads=threads)
    assert {r["k"] for r in out["mart"].collect()} == {"k1", "k2", "k3"}


_VERIFY_SLOTS = 50  # the driver records verdicts for this prefix of queries()


def test_verify_rotation_covers_stale_cohort():
    """Two-round freshness pin: every query whose latest driver verdict
    is older than the newest CORRECTNESS artifact, or that has no
    verdict, sits in the prefix the driver verifies next round."""
    from dbt_economic_indicators_eu_spark.queries.common import (
        all_queries,
        cumulative_correctness,
    )

    _, latest = cumulative_correctness()
    newest = max((n for n, _ in latest.values()), default=0)
    names = list(all_queries())
    stale = {n for n in names if latest.get(n, (0,))[0] < newest}
    missing = stale - set(names[:_VERIFY_SLOTS])
    assert not missing, (
        f"{len(missing)} stale queries outside the verification prefix "
        f"(would go >2 rounds unverified): {sorted(missing)}"
    )


def test_verify_order_follows_new_artifacts(tmp_path):
    """A new verdict artifact needs no hand edit: four simulated driver
    rounds, each verifying the computed prefix, keep every query's
    latest verdict within the last two rounds — including a query with
    no verdict yet, while an artifact row for a deleted query is
    ignored. Rounds sort numerically, and no artifacts → input order."""
    import json
    import os
    import shutil

    from dbt_economic_indicators_eu_spark.queries.common import (
        _REPO_ROOT,
        _verify_order,
        all_queries,
        cumulative_correctness,
    )

    names = list(all_queries()) + ["new_query"]
    assert _verify_order(names, str(tmp_path)) == names

    files, latest = cumulative_correctness()
    for f in files:
        shutil.copy(os.path.join(_REPO_ROOT, f), tmp_path)
    newest = max(n for n, _ in latest.values())
    for n in range(newest + 1, newest + 5):
        prefix = _verify_order(names, str(tmp_path))[:_VERIFY_SLOTS]
        rows = {q: {"rows_match": True} for q in prefix + ["deleted_query"]}
        (tmp_path / f"CORRECTNESS_r{n}.json").write_text(json.dumps(rows))
        _, latest = cumulative_correctness(str(tmp_path))
        old = {q for q in names if latest.get(q, (0,))[0] < n - 1}
        assert not old, f"r{n}: verdicts older than two rounds: {sorted(old)}"

    (tmp_path / "CORRECTNESS_r100.json").write_text(json.dumps({names[0]: {}}))
    files, latest = cumulative_correctness(str(tmp_path))
    assert files[-1] == "CORRECTNESS_r100.json" and latest[names[0]][0] == 100
    assert _verify_order(names, str(tmp_path))[-1] == names[0]


def test_every_query_has_oracle_and_ops():
    """Driver-contract completeness: every QueryDef carries at least
    one SURVEY/EXT operator id, and every oracle is non-empty SQL."""
    from dbt_economic_indicators_eu_spark.queries.common import all_queries

    for name, q in all_queries().items():
        assert q.ops, name
        assert q.oracle is None or "SELECT" in q.oracle.upper(), name


def test_expand_selection_dedupes_shared_model_source_name(spark):
    """A name registered as BOTH a model and a source must appear once
    in an expanded selection — per-name consumers (schema_test_report,
    ls) handle both namespaces per occurrence, so a duplicate would
    double-run/double-print every test on it."""
    reg = Registry()
    reg.source("dual", loader=lambda s: s.range(1).toDF("id"))

    @reg.model("dual")
    def dual(ctx):
        return spark.range(2).toDF("id")

    assert reg.expand_selection(["dual"]) == ["dual"]


def test_namespaced_mocks_target_one_side(spark):
    """'model:x' / 'source:x' mock keys pin ONE namespace of a shared
    name; a bare key still matches both (back-compat)."""
    reg = Registry()
    reg.source("dual", loader=lambda s: s.createDataFrame([(0,)], "id int"))

    @reg.model("dual")
    def dual(ctx):
        return spark.createDataFrame([(1,)], "id int")

    m_mock = spark.createDataFrame([(100,)], "id int")
    s_mock = spark.createDataFrame([(200,)], "id int")

    ctx = reg.context(spark, mocks={"model:dual": m_mock, "source:dual": s_mock})
    assert ctx.ref("dual").collect()[0][0] == 100
    assert ctx.source("dual").collect()[0][0] == 200

    bare = reg.context(spark, mocks={"dual": m_mock})
    assert bare.ref("dual").collect()[0][0] == 100
    assert bare.source("dual").collect()[0][0] == 100


def test_unknown_singular_test_raises_registry_error(spark):
    reg = Registry()
    ctx = reg.context(spark)
    with pytest.raises(RegistryError, match="singular"):
        reg.singular_test_frame(ctx, "nope")


def test_plain_selection_skips_edge_harvest(spark, monkeypatch):
    """Plain-name and tag: selections must not probe-build the whole
    dependency graph (it builds EVERY model's plan); only +tokens pay
    for the harvest."""
    reg = Registry()

    @reg.model("a", tags=("t1",))
    def a(ctx):
        return spark.range(1).toDF("id")

    @reg.model("b")
    def b(ctx):
        return ctx.ref("a")

    def boom(*args, **kwargs):
        raise AssertionError("dependency_graph called for a plain selection")

    monkeypatch.setattr(reg, "dependency_graph", boom)
    graph = functools.partial(reg.dependency_graph, spark)
    assert reg.expand_selection(["b"], graph) == ["b"]
    assert reg.expand_selection(["tag:t1"], graph) == ["a"]
    with pytest.raises(AssertionError, match="plain selection"):
        reg.expand_selection(["+b"], graph)


def test_expand_selection_sessionless_plain_tokens(spark):
    """Plain names and tag: selectors resolve with no graph (the ls
    verb without --raw-dir shares the one implementation instead of
    re-implementing token parsing); a graph operator without a graph
    raises a clear RegistryError, not an AttributeError."""
    reg = Registry()

    @reg.model("a", tags=("t1",))
    def a(ctx):
        return spark.range(1).toDF("id")

    @reg.model("b")
    def b(ctx):
        return ctx.ref("a")

    assert reg.expand_selection(["b", "tag:t1"]) == ["a", "b"]
    with pytest.raises(RegistryError, match="dependency graph"):
        reg.expand_selection(["+b"])
    with pytest.raises(RegistryError, match="unknown model or source"):
        reg.expand_selection(["nope"])
    with pytest.raises(RegistryError, match="no model carries tag"):
        reg.expand_selection(["tag:nope"])


def test_expand_selection_tag_graph_operators(spark):
    """dbt supports graph operators on tag selectors: `+tag:x` adds
    every tagged model's ancestors, `tag:x+` its descendants — the
    token must parse operators before the tag, not fold the trailing
    '+' into the tag name."""
    reg = Registry()
    reg.source("raw", lambda s: s.range(1).toDF("id"))

    @reg.model("up")
    def up(ctx):
        return ctx.source("raw")

    @reg.model("mid", tags=("hot",))
    def mid(ctx):
        return ctx.ref("up")

    @reg.model("down")
    def down(ctx):
        return ctx.ref("mid")

    graph = functools.partial(reg.dependency_graph, spark)
    assert reg.expand_selection(["+tag:hot"], graph) == ["up", "mid", "raw"]
    assert reg.expand_selection(["tag:hot+"], graph) == ["mid", "down"]
    assert reg.expand_selection(["+tag:hot+"], graph) == [
        "up", "mid", "down", "raw",
    ]


def test_expand_selection_graph_probe_uses_stored_resolver(spark):
    """A graph selector on a DAG whose downstream selects a column
    that exists ONLY in the stored upstream relation (SCD2 bookkeeping,
    append_new_columns survivors) must succeed when the caller passes
    the run's stored_resolver — without it the probe harvest analyzes
    against the fresh rebuild's schema and dies on UNRESOLVED_COLUMN
    (the CLI crash on a selection the real run executes fine)."""
    reg = Registry()
    reg.source("raw", lambda s: s.createDataFrame([(1, 1.0)], "id int, v double"))

    @reg.model("acc", materialization="incremental", unique_key="id")
    def acc(ctx):
        return ctx.source("raw")

    @reg.model("reader")
    def reader(ctx):
        # selects a column only the STORED acc carries (accumulated
        # via append_new_columns from an earlier batch)
        return ctx.ref("acc").select("id", "evolved")

    stored = spark.createDataFrame([(1, 1.0, "x")], "id int, v double, evolved string")

    def resolver(name):
        return stored if name == "acc" else None

    with pytest.raises(Exception, match="evolved|UNRESOLVED"):
        reg.expand_selection(["+reader"], lambda: reg.dependency_graph(spark))
    assert reg.expand_selection(
        ["+reader"], lambda: reg.dependency_graph(spark, stored_resolver=resolver)
    ) == ["acc", "reader", "raw"]
