"""Node-level run concurrency (``run_models(threads=N)`` — reference
profiles.yml:11,14 ``threads: 4``/``8``) and project vars
(``--vars`` / ``ctx.var`` — reference dbt_project.yml:20-26).

Concurrency contract: results are IDENTICAL at any thread count (a
model's plan is built only after its upstreams materialized, so ref()
always resolves to the stored relation), while independent models'
writes genuinely overlap in time.
"""

from __future__ import annotations

import json
import os

import pytest

from dbt_economic_indicators_eu_spark.materialize.run import Relations, run_models
from dbt_economic_indicators_eu_spark.plans.registry import Registry


def _indep_registry(n_tables: int = 4) -> Registry:
    reg = Registry()
    for i in range(n_tables):
        @reg.model(f"t{i}", materialization="table")
        def _t(ctx, _i=i):
            from pyspark.sql import functions as F

            return ctx.spark.range(100).select(
                "id", (F.col("id") * (_i + 1)).alias("val")
            )

    @reg.model("child", materialization="table")
    def _child(ctx):
        from pyspark.sql import functions as F

        # depends on two of the independent tables
        return (
            ctx.ref("t0")
            .join(ctx.ref("t1").withColumnRenamed("val", "val1"), "id")
            .agg(F.sum("val").alias("s0"), F.sum("val1").alias("s1"))
        )

    return reg


def test_threads_identical_results(spark, tmp_path):
    rows = {}
    for threads in (1, 4):
        wh = str(tmp_path / f"wh{threads}")
        store = Relations(_indep_registry(), spark, wh)
        out = run_models(store, threads=threads)
        # pool threads put every written relation into the store
        assert store.stored == out
        rows[threads] = {
            name: sorted(map(tuple, df.collect())) for name, df in out.items()
        }
    assert rows[1] == rows[4]
    assert rows[4]["child"] == [(4950 * 1, 4950 * 2)]


def test_threads_child_reads_materialized_parent(spark, tmp_path):
    """Stored-relation semantics survive the concurrent scheduler: the
    child's plan must scan the PARENT'S PARQUET, not recompute it."""
    wh = str(tmp_path / "wh")
    out = run_models(Relations(_indep_registry(), spark, wh), threads=4)
    plan = out["child"]._jdf.queryExecution().executedPlan().toString()
    # child was returned as a scan of its own artifact
    assert "child" in plan and "Scan parquet" in plan


def test_threads_writes_overlap(spark, tmp_path):
    """With threads=2, two independent models' WRITE phases run
    concurrently (their in-write sleeps overlap); with threads=1 they
    cannot. The sleep sits inside a mapInPandas consumed during the
    parquet write — i.e. the expensive phase the pool parallelizes."""
    marker_dir = str(tmp_path / "markers")
    os.makedirs(marker_dir)

    def build_reg(barrier: bool):
        # barrier=True (concurrent run): each write task waits for BOTH
        # start markers before finishing, so overlap is DETERMINISTIC
        # when the scheduler truly runs the writes concurrently — a
        # fixed-sleep overlap assert is flaky on a loaded machine. A
        # wrongly-serial scheduler makes the first task exhaust the
        # wait cap, and the timing assert below fails loudly.
        reg = Registry()
        for name in ("a", "b"):
            @reg.model(name, materialization="table")
            def _m(ctx, _n=name, _barrier=barrier):
                def slow(it):
                    import json as _json
                    import os as _os
                    import time as _time

                    t0 = _time.time()
                    with open(_os.path.join(marker_dir, f"start_{_n}"), "w") as f:
                        f.write("")
                    if _barrier:
                        deadline = _time.time() + 20
                        while _time.time() < deadline and not all(
                            _os.path.exists(_os.path.join(marker_dir, f"start_{x}"))
                            for x in ("a", "b")
                        ):
                            _time.sleep(0.05)
                    else:
                        _time.sleep(0.6)
                    rows = list(it)
                    with open(_os.path.join(marker_dir, _n), "w") as f:
                        _json.dump([t0, _time.time()], f)
                    yield from rows

                return ctx.spark.range(5).coalesce(1).mapInPandas(slow, "id long")

        return reg

    def intervals(wh, threads):
        for f in os.listdir(marker_dir):
            os.remove(os.path.join(marker_dir, f))
        run_models(Relations(build_reg(barrier=threads > 1), spark, str(wh)), threads=threads)
        out = {}
        for name in ("a", "b"):
            with open(os.path.join(marker_dir, name)) as f:
                out[name] = json.load(f)
        return out

    iv = intervals(tmp_path / "wh2", threads=2)
    (a0, a1), (b0, b1) = iv["a"], iv["b"]
    assert a0 < b1 and b0 < a1, f"writes did not overlap: {iv}"

    iv = intervals(tmp_path / "wh1", threads=1)
    (a0, a1), (b0, b1) = iv["a"], iv["b"]
    assert a1 <= b0 or b1 <= a0, f"serial writes overlapped: {iv}"


def test_threads_transitive_dep_through_unselected_view(spark, tmp_path):
    """A(selected) -> B(unselected view) -> C(selected): the scheduler
    must order A after C even though A's only DIRECT upstream is the
    unselected B — A's build recomputes B, whose ref(C) must resolve
    to C's stored relation."""
    marker_dir = str(tmp_path / "markers")
    os.makedirs(marker_dir)

    def mark(name, t0, t1):
        with open(os.path.join(marker_dir, name), "w") as f:
            json.dump([t0, t1], f)

    reg = Registry()

    @reg.model("tC", materialization="table")
    def _c(ctx):
        def slow(it):
            import time as _time

            t0 = _time.time()
            _time.sleep(0.5)
            rows = list(it)
            mark("C", t0, _time.time())
            yield from rows

        return ctx.spark.range(3).coalesce(1).mapInPandas(slow, "id long")

    @reg.model("vB")  # view, NOT selected below
    def _b(ctx):
        return ctx.ref("tC")

    @reg.model("tA", materialization="table")
    def _a(ctx):
        def fast(it):
            import time as _time

            t0 = _time.time()
            rows = list(it)
            mark("A", t0, _time.time())
            yield from rows

        return ctx.ref("vB").coalesce(1).mapInPandas(fast, "id long")

    out = run_models(
        Relations(reg, spark, str(tmp_path / "wh")), select=["tC", "tA"], threads=4
    )
    assert sorted(map(tuple, out["tA"].collect())) == [(0,), (1,), (2,)]
    with open(os.path.join(marker_dir, "C")) as f:
        c0, c1 = json.load(f)
    with open(os.path.join(marker_dir, "A")) as f:
        a0, a1 = json.load(f)
    assert a0 >= c1, f"A started ({a0}) before C finished ({c1})"


def test_context_var_resolution(spark):
    reg = Registry()
    ctx = reg.context(spark, vars={"start_year": 2015})
    assert ctx.var("start_year", 2010) == 2015  # run-level override wins
    assert ctx.var("end_year", 2024) == 2024  # call-site default
    assert ctx.var("missing") is None

    # dbt's three-layer resolution: run override > project-declared
    # default (dbt_project.yml vars) > call-site default
    reg.declare_vars({"start_year": 2010, "end_year": 2024})
    ctx = reg.context(spark, vars={"start_year": 2015})
    assert ctx.var("start_year", 1999) == 2015  # override beats both
    assert ctx.var("end_year", 1999) == 2024  # project default beats call-site
    assert ctx.var("missing", "cs") == "cs"  # call-site is last resort

    # None as an EXPLICIT run override must win (dict membership, not
    # truthiness): dbt lets --vars null-out a project default
    ctx = reg.context(spark, vars={"end_year": None})
    assert ctx.var("end_year", 1999) is None


def test_partial_vars_fall_back_to_project_defaults(spark, tmp_path):
    """A partial --vars run gets the declared project defaults for the
    unspecified vars (ADVICE r5): focus-only vars must still apply the
    dbt_project.yml 2010-2024 year range — here via start_year pushing
    out a pre-2010 row that an unbounded range would keep."""
    import datetime as dt

    from test_cli import _write_raw, GDP_SCHEMA

    from dbt_economic_indicators_eu_spark.__main__ import main

    raw = str(tmp_path / "raw")
    _write_raw(spark, raw)
    # append a pre-default-range GDP year for DE
    old = [("nama_10_gdp", 1000000.0, dt.datetime(2024, 2, 1), "CP_MEUR",
            "m EUR", "B1GQ", "GDP", "DE", "Germany", "2005")]
    spark.createDataFrame(old, GDP_SCHEMA).write.mode("append").parquet(
        f"{raw}/raw_gdp.parquet"
    )

    # no vars at all: the declared defaults stay inert (reference
    # parity — its models never consume them), so 2005 survives
    wh0 = str(tmp_path / "wh0")
    assert main(["run", "--warehouse", wh0, "--raw-dir", raw]) == 0
    # fct is monthly (2023-only) — check the annual mart for the 2005 row
    rpt = spark.read.parquet(os.path.join(wh0, "rpt_annual_economic_summary"))
    assert rpt.filter("reference_year = 2005").count() == 1

    # focus-only vars: year defaults (2010-2024) activate via the
    # project layer and drop 2005; DE rows within range survive
    wh1 = str(tmp_path / "wh1")
    assert (
        main(
            [
                "run", "--warehouse", wh1, "--raw-dir", raw,
                "--vars", '{"focus_countries": ["DE"]}',
            ]
        )
        == 0
    )
    rpt = spark.read.parquet(os.path.join(wh1, "rpt_annual_economic_summary"))
    assert rpt.filter("reference_year = 2005").count() == 0
    assert rpt.filter("reference_year = 2023").count() > 0


def test_cli_vars_scope_the_run(spark, tmp_path):
    """CLI e2e (VERDICT r4 ask #7): a non-default year range + focus
    country must scope every downstream mart; the default run is
    unfiltered (reference models never consume the declared vars)."""
    from test_cli import _write_raw

    from dbt_economic_indicators_eu_spark.__main__ import main

    raw = str(tmp_path / "raw")
    _write_raw(spark, raw)

    wh_default = str(tmp_path / "wh_default")
    assert main(["run", "--warehouse", wh_default, "--raw-dir", raw]) == 0
    fct = spark.read.parquet(os.path.join(wh_default, "fct_economic_indicators"))
    assert fct.count() == 24  # 2 countries x 12 months of 2023

    wh_vars = str(tmp_path / "wh_vars")
    assert (
        main(
            [
                "run", "--warehouse", wh_vars, "--raw-dir", raw,
                "--vars",
                '{"start_year": 2023, "end_year": 2023, "focus_countries": ["DE"]}',
            ]
        )
        == 0
    )
    fct = spark.read.parquet(os.path.join(wh_vars, "fct_economic_indicators"))
    assert fct.count() == 12  # DE only
    assert {r.country_code for r in fct.select("country_code").collect()} == {"DE"}

    # a range excluding the data yields empty marts, not a crash
    wh_empty = str(tmp_path / "wh_empty")
    assert (
        main(
            [
                "run", "--warehouse", wh_empty, "--raw-dir", raw,
                "--vars", '{"start_year": 2030}',
            ]
        )
        == 0
    )
    fct = spark.read.schema(fct.schema).parquet(
        os.path.join(wh_empty, "fct_economic_indicators")
    )
    assert fct.count() == 0

    # `test` over the rowless vars-scoped warehouse must run (schema
    # fallback for footer-less artifacts), with the SAME vars scoping
    # the ref-recomputed views — not crash on schema inference
    rc = main(
        [
            "test", "--warehouse", wh_empty, "--raw-dir", raw,
            "--vars", '{"start_year": 2030}',
        ]
    )
    assert rc == 0

    # a lone focus country string must behave as a one-element list,
    # not explode into per-character codes
    wh_str = str(tmp_path / "wh_str")
    assert (
        main(
            [
                "run", "--warehouse", wh_str, "--raw-dir", raw,
                "--vars", '{"focus_countries": "DE"}',
            ]
        )
        == 0
    )
    fct = spark.read.parquet(os.path.join(wh_str, "fct_economic_indicators"))
    assert fct.count() == 12


def test_cli_unrelated_vars_stay_inert_and_warn(spark, tmp_path, capsys):
    """ADVICE r6 #1: a typo'd / unrelated --vars key (e.g. 'startyear')
    must NOT activate the staging filter — dbt leaves unconsumed vars
    inert — and the run warns about it loudly."""
    from test_cli import _write_raw

    from dbt_economic_indicators_eu_spark.__main__ import main

    import datetime as dt

    from test_cli import MONTHLY_SCHEMA

    raw = str(tmp_path / "raw")
    _write_raw(spark, raw)
    # a month OUTSIDE the declared default range (2010-2024): under the
    # old any-vars gate, the typo'd key would activate the defaults and
    # silently drop it — the non-vacuous probe for filter inertness
    # (the fixture's own 2023 DE/FR data survives the defaults anyway)
    extra = [("une_rt_m", 8.8, dt.datetime(2024, 2, 1), "DE", "DE", "2005-01")]
    spark.createDataFrame(extra, MONTHLY_SCHEMA).write.mode("append").parquet(
        f"{raw}/raw_unemployment.parquet"
    )
    wh = str(tmp_path / "wh")
    assert (
        main(
            [
                "run", "--warehouse", wh, "--raw-dir", raw,
                "--vars", '{"startyear": 2000}',
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "WARNING" in out and "startyear" in out
    fct = spark.read.parquet(os.path.join(wh, "fct_economic_indicators"))
    assert fct.count() == 25  # unfiltered: the 2005 row survives
    assert fct.filter("reference_year = 2005").count() == 1


def test_serial_select_is_dependency_ordered(spark, tmp_path):
    """threads=1 with a NON-topological explicit selection: the mart
    must still materialize AFTER its incremental upstream, reading the
    stored relation — running the caller's order verbatim would build
    the mart from a fresh recompute missing accumulated history."""
    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh")
    reg = Registry()

    @reg.model("fct_incr", materialization="incremental", unique_key="id")
    def _f(ctx):
        return ctx.spark.range(3).select("id", F.lit("b2").alias("batch"))

    @reg.model("mart", materialization="table")
    def _m(ctx):
        return ctx.ref("fct_incr").groupBy().count()

    # seed history the fresh recompute would NOT contain
    run_models(Relations(reg, spark, wh), select=["fct_incr"], threads=1)

    reg2 = Registry()

    @reg2.model("fct_incr", materialization="incremental", unique_key="id")
    def _f2(ctx):
        return ctx.spark.range(3, 5).select("id", F.lit("b3").alias("batch"))

    @reg2.model("mart", materialization="table")
    def _m2(ctx):
        return ctx.ref("fct_incr").groupBy().count()

    # mart listed FIRST — serial path must reorder it after fct_incr
    out = run_models(Relations(reg2, spark, wh), select=["mart", "fct_incr"], threads=1)
    assert out["mart"].collect()[0][0] == 5  # 3 history + 2 new


def test_probe_build_only_when_edges_can_change_the_schedule(spark, tmp_path):
    """One scheduler for every thread count: edges are probe-harvested
    (a throwaway build of every plan) only when they can
    change the schedule. A one-model run at threads=4 and a
    declaration-order run at threads=1 build each plan exactly once;
    an out-of-order selection probes, runs dependency-ordered and
    returns models in selection order, and on a store whose graph is
    already harvested it builds each plan once."""
    from collections import Counter

    calls: Counter = Counter()
    reg = Registry()

    @reg.model("up", materialization="table")
    def _up(ctx):
        calls["up"] += 1
        return ctx.spark.range(3)

    @reg.model("down", materialization="table")
    def _down(ctx):
        calls["down"] += 1
        return ctx.ref("up").selectExpr("id * 2 AS id")

    wh = str(tmp_path / "wh")
    run_models(Relations(reg, spark, wh), select=["up"], threads=4)
    assert calls == {"up": 1}

    calls.clear()
    out = run_models(Relations(reg, spark, wh), select=["up", "down"], threads=1)
    assert calls == {"up": 1, "down": 1}
    assert sorted(r.id for r in out["down"].collect()) == [0, 2, 4]

    calls.clear()
    out = run_models(Relations(reg, spark, wh), select=["down", "up"], threads=1)
    assert calls == {"up": 2, "down": 2}  # probe build + real build
    assert list(out) == ["down", "up"]
    assert sorted(r.id for r in out["down"].collect()) == [0, 2, 4]

    # a store whose graph the command already harvested (a graph
    # selector did) schedules from it: no second probe build
    store = Relations(reg, spark, wh)
    assert store.graph["down"] == {"up"}
    assert set(store.stored) == {"up"}  # the harvest opens only what a plan refs
    calls.clear()
    out = run_models(store, select=["down", "up"], threads=1)
    assert calls == {"up": 1, "down": 1}
    assert list(calls) == ["up", "down"]  # build order: dependency order
    assert list(out) == ["down", "up"]
    assert sorted(r.id for r in out["down"].collect()) == [0, 2, 4]


def test_vars_aware_selection_expansion(spark):
    """+mart ancestor expansion resolves conditional refs with the SAME
    vars the run will use: a var-gated upstream is selected when the
    var enables it and omitted when it doesn't."""
    reg = Registry()

    @reg.model("extra", materialization="table")
    def _e(ctx):
        return ctx.spark.range(1)

    @reg.model("mart")
    def _m(ctx):
        if ctx.var("include_extra", False):
            return ctx.ref("extra")
        return ctx.spark.range(2)

    with_var = reg.expand_selection(
        ["+mart"], lambda: reg.dependency_graph(spark, vars={"include_extra": True})
    )
    without = reg.expand_selection(["+mart"], lambda: reg.dependency_graph(spark))
    assert "extra" in with_var
    assert "extra" not in without


def test_probe_resolves_stored_incremental_schema(spark, tmp_path):
    """A later batch's build plan may lack a column the STORED
    incremental relation keeps (append_new_columns): the dependency
    probe must analyze downstream plans against the stored relation,
    not the raw batch frame — otherwise a threads>=1 run with a
    non-topological selection fails analysis before running anything."""
    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh")

    reg1 = Registry()

    @reg1.model("fct", materialization="incremental", unique_key="id")
    def _f1(ctx):
        return ctx.spark.range(2).select("id", F.lit("x").alias("extra_col"))

    run_models(Relations(reg1, spark, wh), select=["fct"], threads=1)

    reg2 = Registry()

    @reg2.model("fct", materialization="incremental", unique_key="id")
    def _f2(ctx):  # batch 2 no longer emits extra_col
        return ctx.spark.range(2, 4).select("id")

    @reg2.model("mart", materialization="table")
    def _m2(ctx):
        return ctx.ref("fct").select("id", "extra_col")  # stored-only column

    # non-topological selection forces the probe on the serial path too
    out = run_models(Relations(reg2, spark, wh), select=["mart", "fct"], threads=2)
    got = {(r.id, r.extra_col) for r in out["mart"].collect()}
    assert got == {(0, "x"), (1, "x"), (2, None), (3, None)}
