"""Parity tests for the three Python-model ports (models/python_ports.py)
against the REFERENCE implementations themselves: the reference's
``models/marts/py_*.py`` model functions are executed (pandas, via a
stub dbt context) on the exact same ``fct_economic_indicators`` input
the Spark ports consume, and the outputs are compared column-for-column.
This pins the pandas semantics (pad-filled pct_change, skipna stats,
guard thresholds, nanmean ensemble, grade ladders) far tighter than any
re-derived oracle could.

The fixture corpus deliberately exercises every guard branch:

- DE: 30 months, a spike month (z + rate-of-change anomalies), an
  inflation 0.0 → 0.9 step (pct_change ±inf path);
- FR: 30 months, inflation present only on even months (nulls flow
  through pad-fill / dropna paths; 15 non-null > the 10-obs guard),
  and one unemployment month is a real NaN DOUBLE (not NULL) — pandas
  treats NaN as missing everywhere (skipna stats, dropna'd forecast
  series, count), so the Spark ports must normalize NaN to NULL at
  their inputs or one NaN poisons the country's stats/folds;
- DE: one inflation month is NaN too (validity/completeness/
  repetition paths of the quality model);
- IT: 12 months, CONSTANT unemployment (std = 0 → z ≡ 0), only 5
  inflation months (guard fails → null z, False flags, validity
  present, consistency absent);
- ES: 8 months (both anomaly guards fail; < 24 months → excluded from
  the forecast), one out-of-range value in each series (validity < 100).
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import warnings
from unittest import mock

import numpy as np
import pandas as pd
import pytest

from dbt_economic_indicators_eu_spark.models.econ import build_registry

GDP_SCHEMA = (
    "dataset_code string, value double, extracted_at timestamp, "
    "unit_code string, unit_label string, na_item_code string, "
    "na_item_label string, geo_code string, geo_label string, time_code string"
)
MONTHLY_SCHEMA = (
    "dataset_code string, value double, extracted_at timestamp, "
    "geo_code string, geo_label string, time_code string"
)

NOW = "2025-01-01 00:00:00"
RAW_SOURCES = ("raw_gdp", "raw_unemployment", "raw_inflation", "raw_population")
_REF_MARTS = "/root/reference/models/marts"
# The reference pandas models are not vendored; without them the port
# semantics stay pinned by the DuckDB oracle twins (anomaly_zscore,
# forecast_ensemble, forecast_ols, quality_scorecard).
needs_reference = pytest.mark.skipif(
    not os.path.isdir(_REF_MARTS), reason=f"reference pandas models absent: {_REF_MARTS}"
)


def _write_raw(spark, raw):
    ts = dt.datetime(2024, 7, 1)
    months = [f"{2022 + (i // 12)}-{(i % 12) + 1:02d}" for i in range(30)]
    unemp, infl = [], []
    for i, m in enumerate(months):  # DE
        v = 5.0 + 0.1 * (i % 5) + (9.0 if i == 15 else 0.0)
        unemp.append(("une_rt_m", v, ts, "DE", "Germany", m))
        iv = 0.0 if i == 10 else (0.9 if i == 11 else round(0.2 + 0.05 * (i % 4), 2))
        if i == 20:
            iv = float("nan")  # real NaN double survives the staging isNotNull
        infl.append(("prc_hicp_mmor", iv, ts, "DE", "Germany", m))
    for i, m in enumerate(months):  # FR
        uv = float("nan") if i == 13 else 7.0 + 0.2 * ((i * 3) % 7)
        unemp.append(("une_rt_m", uv, ts, "FR", "France", m))
        if i % 2 == 0:
            infl.append(("prc_hicp_mmor", round(0.1 + 0.07 * (i % 5), 2), ts, "FR", "France", m))
    for i, m in enumerate(months[:12]):  # IT
        unemp.append(("une_rt_m", 5.0, ts, "IT", "Italy", m))
        if i < 5:
            infl.append(("prc_hicp_mmor", 0.3, ts, "IT", "Italy", m))
    for i, m in enumerate(months[:8]):  # ES
        unemp.append(("une_rt_m", 12.0 + i + (25.0 if i == 7 else 0.0), ts, "ES", "Spain", m))
        infl.append(("prc_hicp_mmor", 0.5 if i != 3 else 25.0, ts, "ES", "Spain", m))
    gdp = [
        ("nama_10_gdp", 4000000.0, ts, "CP_MEUR", "m", "B1GQ", "GDP", g, g, y)
        for g in ("DE", "FR", "IT", "ES")
        for y in ("2022", "2023")
    ]
    pop = [("demo_pjan", 5.0e7, ts, g, g, "2023") for g in ("DE", "FR", "IT", "ES")]
    spark.createDataFrame(gdp, GDP_SCHEMA).write.mode("overwrite").parquet(f"{raw}/raw_gdp.parquet")
    spark.createDataFrame(unemp, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw}/raw_unemployment.parquet"
    )
    spark.createDataFrame(infl, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw}/raw_inflation.parquet"
    )
    spark.createDataFrame(pop, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw}/raw_population.parquet"
    )


def _load_reference_model(name):
    spec = importlib.util.spec_from_file_location(name, f"{_REF_MARTS}/{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _FakeRel:
    def __init__(self, pdf):
        self._pdf = pdf

    def df(self):
        return self._pdf.copy()


class _FakeDbt:
    """The dbt context surface the reference models use (config + ref)."""

    def __init__(self, frames):
        self._frames = frames

    def config(self, **kw):
        pass

    def ref(self, name):
        return _FakeRel(self._frames[name])


class _FixedDT(dt.datetime):
    """Pins the reference's in-function ``datetime.now()`` to the same
    clock the Spark ports receive via the ``now`` var."""

    @classmethod
    def now(cls, tz=None):
        return cls(2025, 1, 1)


@pytest.fixture(scope="module")
def ports(spark, tmp_path_factory):
    """Both sides' outputs as pandas, computed once for the module."""
    raw = str(tmp_path_factory.mktemp("ports_raw"))
    _write_raw(spark, raw)
    reg = build_registry()
    for name in RAW_SOURCES:
        reg.source(name, lambda s, p=f"{raw}/{name}.parquet": s.read.parquet(p))
    ctx = reg.context(spark, vars={"now": NOW})

    fct_pdf = ctx.ref("fct_economic_indicators").toPandas()
    # DuckDB's .df() hands the reference datetime64 dates; Spark's
    # toPandas hands date objects — normalize to what the reference saw
    fct_pdf["reference_date"] = pd.to_datetime(fct_pdf["reference_date"])
    frames = {
        "fct_economic_indicators": fct_pdf,
        "rpt_annual_economic_summary": ctx.ref("rpt_annual_economic_summary").toPandas(),
    }
    ref, mine = {}, {}
    with warnings.catch_warnings():
        # pandas 2.x pct_change FutureWarning (pad fill default)
        warnings.simplefilter("ignore")
        with mock.patch("datetime.datetime", _FixedDT):
            for name in (
                "py_anomaly_detection",
                "py_unemployment_forecast",
                "py_data_quality_scores",
            ):
                ref[name] = _load_reference_model(name).model(_FakeDbt(frames), None)
                mine[name] = ctx.ref(name).toPandas()
    return ref, mine


def _compare(ref, mine, keys, float_cols, exact_cols, date_cols=()):
    assert list(ref.columns) == list(mine.columns)  # reference column order
    ref = ref.sort_values(keys).reset_index(drop=True)
    mine = mine.sort_values(keys).reset_index(drop=True)
    assert len(ref) == len(mine)
    for c in float_cols:
        r = ref[c].astype(float).to_numpy()
        m = mine[c].astype(float).to_numpy()
        assert np.allclose(r, m, rtol=1e-9, atol=1e-9, equal_nan=True), c
    for c in exact_cols:
        r, m = ref[c], mine[c]
        bad = ~(r.isna() & m.isna()) & (r.fillna("__na__") != m.fillna("__na__"))
        assert not bad.any(), (c, ref.loc[bad, keys + [c]], mine.loc[bad, keys + [c]])
    for c in date_cols:
        assert (pd.to_datetime(ref[c]).to_numpy() == pd.to_datetime(mine[c]).to_numpy()).all(), c


@needs_reference
def test_anomaly_detection_matches_reference(ports):
    ref, mine = (p["py_anomaly_detection"] for p in ports)
    _compare(
        ref, mine, ["indicator_key"],
        ["unemployment_z_score", "inflation_z_score", "anomaly_severity_score",
         "unemployment_rate_pct", "inflation_rate_mom_pct"],
        ["is_unemployment_anomaly", "is_inflation_anomaly", "is_any_anomaly",
         "country_code", "reference_year", "reference_month"],
        ["reference_date"],
    )
    # the corpus is not vacuous: real anomalies on both series, and the
    # guard paths produce null z / all-False flags for IT+ES
    assert bool(ref["is_unemployment_anomaly"].any())
    assert bool(ref["is_inflation_anomaly"].any())
    it = mine[mine.country_code == "IT"]
    assert (it["unemployment_z_score"] == 0).all()  # constant series → z ≡ 0
    assert it["inflation_z_score"].isna().all()  # 5 obs ≤ 10 → guard
    es = mine[mine.country_code == "ES"]
    assert not es[["is_unemployment_anomaly", "is_inflation_anomaly"]].any().any()


@needs_reference
def test_unemployment_forecast_matches_reference(ports):
    ref, mine = (p["py_unemployment_forecast"] for p in ports)
    _compare(
        ref, mine, ["country_code", "forecast_horizon_months"],
        ["last_actual_value", "forecast_exp_smoothing", "forecast_holt",
         "forecast_linear_reg", "forecast_ensemble", "prediction_interval_lower",
         "prediction_interval_upper", "prediction_interval_width"],
        ["forecast_confidence", "model_version", "min_training_samples"],
        ["forecast_date", "last_actual_date"],
    )
    # 2 countries ≥ 24 months × 6 horizons; IT (12) and ES (8) excluded
    assert sorted(mine.country_code.unique()) == ["DE", "FR"]
    assert len(mine) == 12
    # the pinned clock landed in forecast_generated_at
    assert (pd.to_datetime(mine["forecast_generated_at"]) == pd.Timestamp(NOW)).all()


@needs_reference
def test_data_quality_scores_match_reference(ports):
    ref, mine = (p["py_data_quality_scores"] for p in ports)
    _compare(
        ref, mine, ["country_code"],
        ["completeness_score", "unemployment_completeness", "inflation_completeness",
         "timeliness_score", "validity_score", "unemployment_validity",
         "inflation_validity", "consistency_score", "overall_quality_score"],
        ["total_records", "quality_grade", "primary_issue", "requires_attention",
         "days_since_latest_data", "scoring_model_version"],
        ["latest_data_date"],
    )
    by = mine.set_index("country_code")
    # constant unemployment → consistency collapses (100 - 2·pct_repeated)
    assert by.loc["IT", "consistency_score"] == 0.0
    # latest data 2024-06-01 vs now 2025-01-01 → 214 days → decayed score
    assert by.loc["DE", "days_since_latest_data"] == 214
    assert 0 < by.loc["DE", "timeliness_score"] < 100
    assert set(mine.quality_grade) <= {"A", "B", "C", "D", "F"}


@needs_reference
def test_ports_match_reference_on_random_corpus(spark, tmp_path):
    """Property-style parity on a RANDOMIZED corpus (seeded): 8
    countries, random series lengths 6-40 months, random nulls, random
    values — the reference pandas models and the Spark ports must agree
    on every row. Uses a NEAR now (61 days past the latest month) so
    the timeliness<=90 → 100 branch and primary_issue='none' run, which
    the fixed fixture's stale clock never reaches."""
    rng = np.random.RandomState(1234)
    ts = dt.datetime(2024, 7, 1)
    months = [f"{2021 + (i // 12)}-{(i % 12) + 1:02d}" for i in range(40)]
    unemp, infl = [], []
    for ci in range(8):
        cc = f"C{ci}"
        # C0 pinned to the full 40 months so one country's latest data
        # lands 61 days before the near clock (timeliness == 100)
        n = 40 if ci == 0 else int(rng.randint(6, 41))
        for i in range(n):
            unemp.append(
                ("une_rt_m", float(np.round(rng.uniform(2, 15), 2)), ts, cc, cc, months[i])
            )
            if rng.rand() > 0.25:  # random inflation gaps
                v = float(np.round(rng.uniform(-1, 2), 2))
                if rng.rand() < 0.05:
                    v = 0.0  # exercise the pct_change 0-divisor path
                infl.append(("prc_hicp_mmor", v, ts, cc, cc, months[i]))
    gdp = [
        ("nama_10_gdp", 1e6, ts, "CP_MEUR", "m", "B1GQ", "GDP", f"C{ci}", f"C{ci}", "2023")
        for ci in range(8)
    ]
    pop = [("demo_pjan", 1e7, ts, f"C{ci}", f"C{ci}", "2023") for ci in range(8)]
    raw = str(tmp_path / "raw")
    spark.createDataFrame(gdp, GDP_SCHEMA).write.mode("overwrite").parquet(f"{raw}/raw_gdp.parquet")
    spark.createDataFrame(unemp, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw}/raw_unemployment.parquet"
    )
    spark.createDataFrame(infl, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw}/raw_inflation.parquet"
    )
    spark.createDataFrame(pop, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw}/raw_population.parquet"
    )
    reg = build_registry()
    for name in RAW_SOURCES:
        reg.source(name, lambda s, p=f"{raw}/{name}.parquet": s.read.parquet(p))
    # latest series month is 2024-04 (40 months from 2021-01); 61 days
    near_now = "2024-06-01 00:00:00"
    ctx = reg.context(spark, vars={"now": near_now})
    fct_pdf = ctx.ref("fct_economic_indicators").toPandas()
    fct_pdf["reference_date"] = pd.to_datetime(fct_pdf["reference_date"])
    frames = {
        "fct_economic_indicators": fct_pdf,
        "rpt_annual_economic_summary": ctx.ref("rpt_annual_economic_summary").toPandas(),
    }

    class _NearDT(dt.datetime):
        @classmethod
        def now(cls, tz=None):
            return cls(2024, 6, 1)

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        with mock.patch("datetime.datetime", _NearDT):
            ref_anom = _load_reference_model("py_anomaly_detection").model(_FakeDbt(frames), None)
            ref_fcst = _load_reference_model("py_unemployment_forecast").model(_FakeDbt(frames), None)
            ref_qual = _load_reference_model("py_data_quality_scores").model(_FakeDbt(frames), None)

    _compare(
        ref_anom, ctx.ref("py_anomaly_detection").toPandas(), ["indicator_key"],
        ["unemployment_z_score", "inflation_z_score", "anomaly_severity_score"],
        ["is_unemployment_anomaly", "is_inflation_anomaly", "is_any_anomaly"],
        ["reference_date"],
    )
    my_fcst = ctx.ref("py_unemployment_forecast").toPandas()
    _compare(
        ref_fcst, my_fcst, ["country_code", "forecast_horizon_months"],
        ["forecast_exp_smoothing", "forecast_holt", "forecast_linear_reg",
         "forecast_ensemble", "prediction_interval_lower", "prediction_interval_upper"],
        ["forecast_confidence", "min_training_samples"],
        ["forecast_date", "last_actual_date"],
    )
    my_qual = ctx.ref("py_data_quality_scores").toPandas()
    _compare(
        ref_qual, my_qual, ["country_code"],
        ["completeness_score", "timeliness_score", "validity_score",
         "consistency_score", "overall_quality_score",
         "unemployment_validity", "inflation_validity"],
        ["total_records", "quality_grade", "primary_issue", "requires_attention",
         "days_since_latest_data"],
        ["latest_data_date"],
    )
    # the near clock actually exercised the <=90-day branch + 'none'
    assert (my_qual["timeliness_score"] == 100.0).any()
    assert (my_qual["primary_issue"] == "none").any()
    # and the randomized lengths exercised the forecast inclusion guard
    n_eligible = sum(
        fct_pdf.groupby("country_code")["unemployment_rate_pct"].count() >= 24
    )
    assert my_fcst["country_code"].nunique() == n_eligible


def test_ports_plan_shape_on_stored_relations(spark, tmp_path):
    """100 TB posture: when the ports read MATERIALIZED relations (the
    real `run` path — refs resolve to stored parquet, not the inlined
    upstream DAG), each plan is one fact scan, country-partitioned
    windows/aggregations, and broadcast joins only — no sort-merge
    join, no cartesian, and a bounded exchange count."""
    raw = str(tmp_path / "raw")
    _write_raw(spark, raw)
    reg = build_registry()
    for name in RAW_SOURCES:
        reg.source(name, lambda s, p=f"{raw}/{name}.parquet": s.read.parquet(p))
    # materialize the upstreams once, then mock them as stored scans
    ctx = reg.context(spark, vars={"now": NOW})
    fct_path = str(tmp_path / "fct")
    rpt_path = str(tmp_path / "rpt")
    ctx.ref("fct_economic_indicators").write.parquet(fct_path)
    ctx.ref("rpt_annual_economic_summary").write.parquet(rpt_path)
    stored = {
        "fct_economic_indicators": spark.read.parquet(fct_path),
        "rpt_annual_economic_summary": spark.read.parquet(rpt_path),
    }
    ctx2 = reg.context(spark, mocks=stored, vars={"now": NOW})
    budgets = {
        # anomaly: window exchange + stats-agg exchange (+AQE may add a
        # broadcast exchange); forecast/quality: one country shuffle
        # (+ quality's groupBy reuses the window partitioning)
        "py_anomaly_detection": 3,
        "py_unemployment_forecast": 2,
        "py_data_quality_scores": 2,
    }
    for name, budget in budgets.items():
        plan = ctx2.ref(name)._jdf.queryExecution().executedPlan().toString()
        n_shuffle = plan.count("Exchange hashpartitioning")
        assert n_shuffle <= budget, (name, n_shuffle, plan)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, name
        # the pandas loops are re-expressed JVM-side: no Python
        # operators anywhere in the ports (the fold-based forecast
        # included)
        for py_node in ("ArrowEvalPython", "BatchEvalPython",
                        "FlatMapGroupsInPandas", "MapInPandas"):
            assert py_node not in plan, (name, py_node)


def test_ports_build_empty_upstream(spark, tmp_path):
    """A vars-scoped run over an empty slice must yield empty,
    correctly-typed ports (rowless read-back path in run_models)."""
    raw = str(tmp_path / "raw")
    _write_raw(spark, raw)
    reg = build_registry()
    for name in RAW_SOURCES:
        reg.source(name, lambda s, p=f"{raw}/{name}.parquet": s.read.parquet(p))
    ctx = reg.context(spark, vars={"now": NOW, "start_year": 2030})
    for name in (
        "py_anomaly_detection",
        "py_unemployment_forecast",
        "py_data_quality_scores",
    ):
        df = ctx.ref(name)
        assert df.count() == 0
        assert len(df.schema.fields) > 0
