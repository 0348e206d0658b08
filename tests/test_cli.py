"""End-to-end CLI tests (__main__.py) — the dbt run/test/snapshot/seed/
build workflow over synthetic raw extracts (FIXTURES.md §1 schemas)."""

from __future__ import annotations

import os

import pytest

from dbt_economic_indicators_eu_spark.__main__ import main

GDP_SCHEMA = (
    "dataset_code string, value double, extracted_at timestamp, "
    "unit_code string, unit_label string, na_item_code string, "
    "na_item_label string, geo_code string, geo_label string, time_code string"
)
MONTHLY_SCHEMA = (
    "dataset_code string, value double, extracted_at timestamp, "
    "geo_code string, geo_label string, time_code string"
)


def _write_raw(spark, raw_dir, *, dup_gdp=False):
    import datetime as dt

    ts = dt.datetime(2024, 2, 1)
    gdp = [
        ("nama_10_gdp", 4000000.0, ts, "CP_MEUR", "m EUR", "B1GQ", "GDP", "DE", "Germany", "2023"),
        ("nama_10_gdp", 3900000.0, ts, "CP_MEUR", "m EUR", "B1GQ", "GDP", "DE", "Germany", "2022"),
        ("nama_10_gdp", 2800000.0, ts, "CP_MEUR", "m EUR", "B1GQ", "GDP", "FR", "France", "2023"),
        ("nama_10_gdp", None, ts, "CP_MEUR", "m EUR", "B1GQ", "GDP", "FR", "France", "2022"),
    ]
    if dup_gdp:  # same (geo, time) twice -> duplicate surrogate key
        gdp.append(gdp[0])
    spark.createDataFrame(gdp, GDP_SCHEMA).write.mode("overwrite").parquet(
        f"{raw_dir}/raw_gdp.parquet"
    )
    months = [f"2023-{m:02d}" for m in range(1, 13)]
    unemp = [
        ("une_rt_m", 3.0 + (i % 4) / 10, ts, geo, geo, m)
        for geo in ("DE", "FR")
        for i, m in enumerate(months)
    ] + [("une_rt_m", 9.9, ts, "DE", "DE", "2023")]  # malformed time_code, dropped
    spark.createDataFrame(unemp, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw_dir}/raw_unemployment.parquet"
    )
    infl = [
        ("prc_hicp_manr", 0.2 + (i % 3) / 10, ts, geo, geo, m)
        for geo in ("DE", "FR")
        for i, m in enumerate(months)
    ]
    spark.createDataFrame(infl, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw_dir}/raw_inflation.parquet"
    )
    pop = [
        ("demo_pjan", 84000000.0, ts, "DE", "Germany", "2023"),
        ("demo_pjan", 68000000.0, ts, "FR", "France", "2023"),
    ]
    spark.createDataFrame(pop, MONTHLY_SCHEMA).write.mode("overwrite").parquet(
        f"{raw_dir}/raw_population.parquet"
    )


def test_cli_ls(capsys):
    assert main(["ls"]) == 0
    out = capsys.readouterr().out
    assert "fct_economic_indicators  [incremental]" in out
    assert "snap_gdp_history  [snapshot]" in out
    assert "tests=5" in out  # declared yml tests surfaced

    # ls honors --select / --exclude (tag: and plain names resolve
    # without a SparkSession)
    assert main(["ls", "--select", "tag:staging"]) == 0
    out = capsys.readouterr().out
    assert "stg_eurostat__gdp" in out and "fct_economic_indicators" not in out
    assert main(["ls", "--exclude", "tag:python"]) == 0
    out = capsys.readouterr().out
    assert "py_anomaly_detection" not in out and "dim_country" in out
    assert main(["ls", "--select", "nope"]) != 0
    capsys.readouterr()


def test_cli_build_end_to_end(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    rc = main(
        ["build", "--warehouse", wh, "--raw-dir", raw, "--now", "2024-03-01T00:00:00"]
    )
    out = capsys.readouterr().out
    assert rc == 0, out
    # dbt-run surface parity: 13 model nodes ran (4 staging + seed +
    # 2 intermediate + 3 marts + 3 Python-model ports), like the
    # reference's `dbt run` — plus the snapshot from build's snapshot
    # stage
    assert out.count("ran ") == 14, out
    assert sum(f"ran py_{s}" in out for s in
               ("anomaly_detection", "unemployment_forecast", "data_quality_scores")) == 3
    # materialized artifacts on disk (views stay virtual)
    for t in ("dim_country", "fct_economic_indicators", "rpt_annual_economic_summary",
              "snap_gdp_history", "py_anomaly_detection", "py_unemployment_forecast",
              "py_data_quality_scores"):
        assert os.path.isdir(os.path.join(wh, t)), t
    # every declared test green over this corpus: 46 model tests +
    # 8 source tests (_sources.yml geo_code/time_code not_null x4) +
    # 4 unit tests (_intermediate__unit_tests.yml) + 1 singular test
    # (tests/assert_eu_aggregate_consistency.sql)
    assert "59 of 59 tests passed" in out and "FAIL" not in out
    # fact-grain tables honor their declared layout: the anomaly port
    # lands year-partitioned like the fct it mirrors
    assert os.path.isdir(os.path.join(wh, "py_anomaly_detection", "reference_year=2023"))
    anom = spark.read.parquet(os.path.join(wh, "py_anomaly_detection"))
    assert anom.count() == 24
    # spot-check the mart content
    fct = spark.read.parquet(os.path.join(wh, "fct_economic_indicators"))
    assert fct.count() == 24  # 2 countries x 12 months
    snap = spark.read.parquet(os.path.join(wh, "snap_gdp_history"))
    assert snap.filter("is_current").count() == 3  # DE 2022/2023 + FR 2023


def test_cli_test_detects_duplicate_key(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw")
    _write_raw(spark, raw, dup_gdp=True)
    rc = main(["test", "--raw-dir", raw, "--select", "stg_eurostat__gdp"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL" in out and "stg_eurostat__gdp.gdp_key unique" in out


def test_cli_source_freshness_statuses(spark, tmp_path, capsys):
    """_sources.yml:27-30 policy: extracted_at 2024-02-01 → pass at
    +2d, warn past 7d, error past 30d; error exits 1."""
    raw = str(tmp_path / "raw")
    _write_raw(spark, raw)
    cases = [
        ("2024-02-03T00:00:00", "PASS", 0),
        ("2024-02-15T00:00:00", "WARN", 0),
        ("2024-04-01T00:00:00", "ERROR", 1),
    ]
    for now, status, rc in cases:
        got = main(["source-freshness", "--raw-dir", raw, "--now", now])
        out = capsys.readouterr().out
        assert got == rc, (now, out)
        assert out.count(status) == 4, (now, out)  # all four raw sources
    # a `now` VAR is the same injectable clock as --now here too
    got = main(["source-freshness", "--raw-dir", raw,
                "--vars", '{"now": "2024-04-01T00:00:00"}'])
    out = capsys.readouterr().out
    assert got == 1 and out.count("ERROR") == 4, out


def test_cli_snapshot_rerun_idempotent(spark, tmp_path):
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    for now in ("2024-03-01T00:00:00", "2024-04-01T00:00:00"):
        assert main(["snapshot", "--warehouse", wh, "--raw-dir", raw, "--now", now]) == 0
    snap = spark.read.parquet(os.path.join(wh, "snap_gdp_history"))
    # same source at a later clock: nothing closes, nothing opens
    assert snap.filter("NOT is_current").count() == 0
    assert {r.valid_from.isoformat() for r in snap.collect()} == {"2024-03-01T00:00:00"}


def test_cli_now_var_pins_snapshot_clock(spark, tmp_path):
    """A run-level `now` var is the SAME injectable clock as --now: the
    snapshot must not fall back to wall time while the Python-model
    ports honor the var (code-review r7 finding)."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    assert main(
        ["snapshot", "--warehouse", wh, "--raw-dir", raw,
         "--vars", '{"now": "2024-05-01T00:00:00"}']
    ) == 0
    snap = spark.read.parquet(os.path.join(wh, "snap_gdp_history"))
    assert {r.valid_from.isoformat() for r in snap.collect()} == {"2024-05-01T00:00:00"}


def test_cli_graph_selectors(spark, tmp_path, capsys):
    """dbt selector parity: +name pulls ancestors, name+ descendants."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    rc = main(
        ["run", "--warehouse", wh, "--raw-dir", raw,
         "--select", "+fct_economic_indicators"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    for anc in (
        "stg_eurostat__unemployment", "int_country_monthly_indicators",
        "dim_country", "fct_economic_indicators",
    ):
        assert f"ran {anc}" in out, out
    assert "rpt_annual_economic_summary" not in out  # not an ancestor

    rc = main(
        ["run", "--warehouse", wh, "--raw-dir", raw, "--now",
         "2024-03-01T00:00:00", "--select", "stg_eurostat__gdp+"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    for desc in ("int_country_annual_metrics", "rpt_annual_economic_summary", "snap_gdp_history"):
        assert f"ran {desc}" in out, out
    assert "stg_eurostat__unemployment" not in out  # not a descendant


def test_cli_incremental_watermark_merges_only_new_rows(spark, tmp_path):
    """fct_economic_indicators declares the reference's is_incremental()
    watermark on reference_date (fct_economic_indicators.sql:28-31): a
    second run over raw data extended by one month merges exactly the
    new month; a rerun over unchanged raw is a no-op."""
    import datetime as dt

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    sel = ["--select", "fct_economic_indicators"]
    assert main(["run", "--warehouse", wh, "--raw-dir", raw, *sel]) == 0
    fct_path = f"{wh}/fct_economic_indicators"
    assert spark.read.parquet(fct_path).count() == 24

    # extend raw unemployment+inflation with 2024-01 for both countries
    ts = dt.datetime(2024, 2, 1)
    extra_u = [("une_rt_m", 4.5, ts, g, g, "2024-01") for g in ("DE", "FR")]
    extra_i = [("prc_hicp_manr", 0.4, ts, g, g, "2024-01") for g in ("DE", "FR")]
    spark.createDataFrame(extra_u, MONTHLY_SCHEMA).write.mode("append").parquet(
        f"{raw}/raw_unemployment.parquet"
    )
    spark.createDataFrame(extra_i, MONTHLY_SCHEMA).write.mode("append").parquet(
        f"{raw}/raw_inflation.parquet"
    )
    assert main(["run", "--warehouse", wh, "--raw-dir", raw, *sel]) == 0
    fct = spark.read.parquet(fct_path)
    assert fct.count() == 26
    assert fct.filter("reference_date = '2024-01-01'").count() == 2

    # unchanged raw -> watermark drops every incoming row
    assert main(["run", "--warehouse", wh, "--raw-dir", raw, *sel]) == 0
    assert spark.read.parquet(fct_path).count() == 26


def test_cli_run_full_refresh_rebuilds_incremental(spark, tmp_path):
    """dbt run --full-refresh: a revision to an ALREADY-MERGED month is
    invisible to the watermarked merge (is_incremental() drops rows at
    or before max(reference_date)) but a full refresh rebuilds the
    incremental from the current plan — dbt's recovery path for
    backfilled/corrected history."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    sel = ["--warehouse", wh, "--raw-dir", raw, "--select", "fct_economic_indicators"]
    assert main(["run", *sel]) == 0
    fct_path = os.path.join(wh, "fct_economic_indicators")

    def jan_de():
        return (
            spark.read.parquet(fct_path)
            .filter("country_code = 'DE' AND reference_date = '2023-01-01'")
            .collect()[0]["unemployment_rate_pct"]
        )

    before = jan_de()
    # revise January's value in the raw extract (already merged)
    pdf = spark.read.parquet(f"{raw}/raw_unemployment.parquet").toPandas()
    pdf.loc[(pdf.geo_code == "DE") & (pdf.time_code == "2023-01"), "value"] = 9.5
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{raw}/raw_unemployment.parquet"
    )
    # watermarked merge: the revision is dropped (row not past max date)
    assert main(["run", *sel]) == 0
    assert jan_de() == before
    # full refresh: rebuilt from the current plan
    assert main(["run", *sel, "--full-refresh"]) == 0
    assert jan_de() == 9.5
    assert spark.read.parquet(fct_path).count() == 24
    # the rebuilt incremental keeps its declared partition layout
    assert os.path.isdir(os.path.join(fct_path, "reference_year=2023"))


def test_cli_docs_manifest(spark, tmp_path):
    import json

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    assert main(["docs", "--warehouse", wh, "--raw-dir", raw]) == 0
    m = json.load(open(os.path.join(wh, "manifest.json")))
    fct = m["models"]["fct_economic_indicators"]
    assert fct["materialization"] == "incremental"
    assert fct["watermark_col"] == "reference_date"
    assert ["relationships", "country_code", "dim_country", "country_code"] in fct["tests"]
    assert "int_country_monthly_indicators" in fct["depends_on"]
    assert "dim_country" in fct["depends_on"]
    src = m["sources"]["raw_gdp"]
    assert src["loaded_at_field"] == "extracted_at" and src["bound"] is True

    # reference yml docs ship in the manifest (r6: _marts__models.yml /
    # _sources.yml descriptions, column docs, meta, enforced contract)
    assert fct["description"].startswith("Core fact table")
    assert fct["columns"]["indicator_key"].startswith("Primary key")
    assert fct["meta"]["owner"] == "data-engineering"
    assert fct["contract"] is not None and "indicator_key" in fct["contract"]
    assert src["description"].startswith("Gross Domestic Product")
    assert src["columns"]["geo_code"] == "ISO 2-letter country code"
    # project-declared vars surface (dbt_project.yml:20-26)
    assert m["vars"]["start_year"] == 2010
    # reusable doc blocks (reference docs/overview.md {% docs %})
    assert m["docs"]["country_code"].startswith("ISO 3166-1")
    assert "nama_10_gdp" in m["docs"]["gdp_million_eur"]
    # semantic-layer metric nodes (reference README.md:226-258)
    assert m["metrics"]["total_gdp"]["type"] == "simple"
    assert m["metrics"]["gdp_growth"]["type"] == "cumulative"
    assert m["metrics"]["gdp_per_capita_derived"]["type"] == "derived"
    assert len(m["metrics"]) == 9

    # --select limits emitted model nodes via graph expansion
    wh2 = str(tmp_path / "wh2")
    assert main(
        ["docs", "--warehouse", wh2, "--raw-dir", raw,
         "--select", "+dim_country"]
    ) == 0
    m2 = json.load(open(os.path.join(wh2, "manifest.json")))
    assert "dim_country" in m2["models"]
    assert "stg_eurostat__gdp" in m2["models"]  # ancestor
    assert "rpt_annual_economic_summary" not in m2["models"]
    assert "raw_gdp" in m2["sources"]  # sources always ship

    # no dangling lineage: every depends_on edge resolves inside the
    # manifest (emitted models or sources), even under a bare --select
    wh3 = str(tmp_path / "wh3")
    assert main(
        ["docs", "--warehouse", wh3, "--raw-dir", raw, "--select", "dim_country"]
    ) == 0
    m3 = json.load(open(os.path.join(wh3, "manifest.json")))
    assert set(m3["models"]) == {"dim_country"}
    for node in m3["models"].values():
        for dep in node["depends_on"]:
            assert dep in m3["models"] or dep in m3["sources"], dep

    # unknown --select names error cleanly in BOTH branches
    assert main(
        ["docs", "--warehouse", wh3, "--raw-dir", raw, "--select", "nope"]
    ) == 1
    assert main(["docs", "--warehouse", wh3, "--select", "nope"]) == 1
    # without --raw-dir, --select takes the same tokens as ls and
    # --exclude do: tag: resolves, graph operators still need the graph
    assert main(["docs", "--warehouse", wh3, "--select", "tag:marts"]) == 0
    m3b = json.load(open(os.path.join(wh3, "manifest.json")))
    assert set(m3b["models"]) == {
        "dim_country", "fct_economic_indicators", "rpt_annual_economic_summary",
    }
    assert main(["docs", "--warehouse", wh3, "--exclude", "+dim_country"]) == 1

    # catalog.json: the WAREHOUSE side — materialized relations only,
    # with actual column types and row counts from what a run wrote
    wh4 = str(tmp_path / "wh4")
    assert main(["run", "--warehouse", wh4, "--raw-dir", raw]) == 0
    assert main(["docs", "--warehouse", wh4, "--raw-dir", raw]) == 0
    cat = json.load(open(os.path.join(wh4, "catalog.json")))
    assert "fct_economic_indicators" in cat
    assert cat["fct_economic_indicators"]["row_count"] == 24
    assert cat["fct_economic_indicators"]["columns"]["reference_date"] == "date"
    assert "stg_eurostat__gdp" not in cat  # views have no stored relation
    # a docs run over an EMPTY warehouse still writes a (bare) catalog
    wh5 = str(tmp_path / "wh5")
    assert main(["docs", "--warehouse", wh5, "--raw-dir", raw]) == 0
    assert json.load(open(os.path.join(wh5, "catalog.json"))) == {}

    # a MATERIALIZED-but-rowless relation (vars scoped to an empty
    # slice) is cataloged as built-empty, not omitted as unbuilt
    wh6 = str(tmp_path / "wh6")
    assert main(
        ["run", "--warehouse", wh6, "--raw-dir", raw,
         "--vars", '{"start_year": 2030, "end_year": 2031}']
    ) == 0
    assert main(["docs", "--warehouse", wh6, "--raw-dir", raw]) == 0
    cat6 = json.load(open(os.path.join(wh6, "catalog.json")))
    assert cat6["fct_economic_indicators"]["row_count"] == 0
    assert cat6["fct_economic_indicators"]["columns"]["reference_date"] == "date"

    # docs WITHOUT --raw-dir still rewrites the catalog (no stale pair):
    # footer-backed relations catalog fully; a rowless relation keeps
    # the schema a previous bound run recorded (never erased to null)
    assert main(["docs", "--warehouse", wh4]) == 0
    cat4 = json.load(open(os.path.join(wh4, "catalog.json")))
    assert cat4["fct_economic_indicators"]["row_count"] == 24
    assert main(["docs", "--warehouse", wh6]) == 0
    cat6b = json.load(open(os.path.join(wh6, "catalog.json")))
    assert cat6b["fct_economic_indicators"]["row_count"] == 0
    assert cat6b["fct_economic_indicators"]["columns"]["reference_date"] == "date"
    # with NO previous catalog and no bound sources, schema is honestly
    # unknown — an EMPTY mapping, iterable by consumers (ADVICE r6 #4)
    os.remove(os.path.join(wh6, "catalog.json"))
    assert main(["docs", "--warehouse", wh6]) == 0
    cat6c = json.load(open(os.path.join(wh6, "catalog.json")))
    assert cat6c["fct_economic_indicators"] == {"columns": {}, "row_count": 0}

    # a --select docs run must NOT shrink the catalog below warehouse
    # state (catalog documents the warehouse, not the selection)
    assert main(
        ["docs", "--warehouse", wh4, "--raw-dir", raw, "--select", "dim_country"]
    ) == 0
    cat4b = json.load(open(os.path.join(wh4, "catalog.json")))
    assert "fct_economic_indicators" in cat4b and "dim_country" in cat4b


def test_cli_catalog_namespacing(spark, tmp_path, capsys):
    """catalog.json lives under the target base (warehouse_base), so a
    docs run against one target/schema can never erase what a run
    recorded for another (ADVICE r6 #5)."""
    import json

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    args = ["--warehouse", wh, "--raw-dir", raw, "--schema", "analytics"]
    assert main(["run", *args]) == 0
    assert main(["docs", *args]) == 0
    prod_cpath = os.path.join(wh, "analytics", "catalog.json")
    prod_cat = json.load(open(prod_cpath))
    assert prod_cat["fct_economic_indicators"]["row_count"] == 24

    # a dev-target subset run + docs lands in dev_analytics/ and leaves
    # the prod catalog byte-identical
    dev = [*args, "--target", "dev"]
    assert main(["run", *dev, "--select", "dim_country"]) == 0
    assert main(["docs", *dev]) == 0
    dev_cat = json.load(open(os.path.join(wh, "dev_analytics", "catalog.json")))
    assert set(dev_cat) == {"dim_country"}
    assert json.load(open(prod_cpath)) == prod_cat


def test_cli_catalog_round_trip_warehouse_evolution(spark, tmp_path, capsys):
    """Catalog vs evolving warehouse state (VERDICT r6 item 5): an
    empty-slice build catalogs every table rowless WITH its derived
    schema; a later real subset run updates exactly the relations it
    rebuilt while the still-rowless ones keep their schemas; an
    incremental merge is reflected on the next docs run."""
    import datetime as dt
    import json

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    base_args = ["--warehouse", wh, "--raw-dir", raw]
    cpath = os.path.join(wh, "catalog.json")

    # A: empty-slice full build → every table model rowless, schema derived
    assert main(["run", *base_args, "--vars", '{"start_year": 2030}']) == 0
    assert main(["docs", *base_args, "--vars", '{"start_year": 2030}']) == 0
    cat_a = json.load(open(cpath))
    # dim_country is seed-driven — 10 rows even over the empty slice;
    # everything downstream of the scoped staging layer is rowless
    assert cat_a["dim_country"]["row_count"] == 10
    for t in ("fct_economic_indicators", "rpt_annual_economic_summary",
              "py_anomaly_detection", "py_unemployment_forecast",
              "py_data_quality_scores"):
        assert cat_a[t]["row_count"] == 0, t
        assert cat_a[t]["columns"], t  # schema derived, never empty
    assert cat_a["rpt_annual_economic_summary"]["columns"]["summary_key"] == "string"

    # B: real run of ONLY the fct ancestry → fct gains rows; rpt and
    # the Python ports remain rowless but keep their schemas
    assert main(["run", *base_args, "--select", "+fct_economic_indicators"]) == 0
    assert main(["docs", *base_args]) == 0
    cat_b = json.load(open(cpath))
    assert cat_b["fct_economic_indicators"]["row_count"] == 24
    assert cat_b["fct_economic_indicators"]["columns"]["reference_date"] == "date"
    assert cat_b["rpt_annual_economic_summary"]["row_count"] == 0
    assert cat_b["rpt_annual_economic_summary"]["columns"] == \
        cat_a["rpt_annual_economic_summary"]["columns"]

    # C: incremental evolution — one more raw month, subset re-run,
    # docs reflects the merged row count
    ts = dt.datetime(2024, 2, 1)
    extra_u = [("une_rt_m", 4.5, ts, g, g, "2024-01") for g in ("DE", "FR")]
    spark.createDataFrame(extra_u, MONTHLY_SCHEMA).write.mode("append").parquet(
        f"{raw}/raw_unemployment.parquet"
    )
    assert main(["run", *base_args, "--select", "fct_economic_indicators"]) == 0
    assert main(["docs", *base_args]) == 0
    cat_c = json.load(open(cpath))
    assert cat_c["fct_economic_indicators"]["row_count"] == 26


def test_cli_catalog_legacy_root_fallback(spark, tmp_path):
    """Catalogs written before the namespacing change lived at the
    warehouse root even for schema-namespaced runs; the first
    post-upgrade no-raw-dir docs run must still find those recorded
    schemas instead of erasing them (code-review r7 finding)."""
    import json
    import shutil

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    args = ["--warehouse", wh, "--raw-dir", raw, "--schema", "analytics"]
    # rowless warehouse + bound docs run records derived schemas
    assert main(["run", *args, "--vars", '{"start_year": 2030}']) == 0
    assert main(["docs", *args, "--vars", '{"start_year": 2030}']) == 0
    ns_cpath = os.path.join(wh, "analytics", "catalog.json")
    recorded = json.load(open(ns_cpath))
    assert recorded["fct_economic_indicators"]["columns"]
    # simulate the pre-namespacing layout: catalog at the root only
    shutil.move(ns_cpath, os.path.join(wh, "catalog.json"))
    # a no-raw-dir refresh must fall back to the legacy root catalog
    assert main(["docs", "--warehouse", wh, "--schema", "analytics"]) == 0
    cat = json.load(open(ns_cpath))
    assert cat["fct_economic_indicators"]["columns"] == \
        recorded["fct_economic_indicators"]["columns"]


def test_cli_build_warns_unknown_vars_once(spark, tmp_path, capsys):
    """build delegates to run + snapshot + test; the unknown-vars
    warning must print once, not once per stage."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    assert main(
        ["build", "--warehouse", wh, "--raw-dir", raw,
         "--now", "2024-03-01T00:00:00", "--vars", '{"startyear": 2000}']
    ) == 0
    out = capsys.readouterr().out
    assert out.count("WARNING  unknown --vars keys") == 1


def test_cli_compile_prints_plans(spark, tmp_path, capsys):
    raw = str(tmp_path / "raw")
    _write_raw(spark, raw)
    assert main(["compile", "--raw-dir", raw, "--select", "stg_eurostat__gdp"]) == 0
    out = capsys.readouterr().out
    assert "-- model: stg_eurostat__gdp" in out
    assert "Relation" in out  # a parquet scan reached the optimized plan


def test_cli_tag_selector(spark, tmp_path, capsys):
    """dbt tag: selector — run only the marts layer (plus explicit
    upstream resolution happens lazily inside the plans)."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    rc = main(
        ["run", "--warehouse", wh, "--raw-dir", raw, "--select", "tag:staging"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    for m in ("stg_eurostat__gdp", "stg_eurostat__unemployment",
              "stg_eurostat__inflation", "stg_eurostat__population"):
        assert f"ran {m}" in out
    assert "dim_country" not in out and "fct_economic" not in out


def test_cli_store_failures(spark, tmp_path, capsys):
    """dbt test --store-failures: failing tests persist their violation
    rows as audit relations; passing runs write nothing."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw, dup_gdp=True)  # duplicate surrogate key
    rc = main(["test", "--warehouse", wh, "--raw-dir", raw, "--store-failures",
               "--select", "stg_eurostat__gdp"])
    out = capsys.readouterr().out
    assert rc == 1 and "stored failures ->" in out
    audit = os.path.join(wh, "dbt_test__audit", "stg_eurostat__gdp__gdp_key__unique")
    viol = spark.read.parquet(audit)
    # dbt unique-test shape: one row per duplicated value, with count
    assert viol.count() == 1
    assert "gdp_key" in viol.columns

    # a clean corpus stores nothing
    raw2 = str(tmp_path / "raw2")
    wh2 = str(tmp_path / "wh2")
    _write_raw(spark, raw2)
    assert main(["test", "--warehouse", wh2, "--raw-dir", raw2,
                 "--store-failures"]) == 0
    assert not os.path.isdir(os.path.join(wh2, "dbt_test__audit"))

    # the audit schema is recreated per run: once the data is fixed, a
    # later --store-failures run prunes the stale violation relations
    assert main(["test", "--warehouse", wh, "--raw-dir", raw2,
                 "--store-failures"]) == 0
    assert not os.path.isdir(os.path.join(wh, "dbt_test__audit"))


def test_cli_exclude_selector(spark, tmp_path, capsys):
    """dbt --exclude parity: same graph-selector syntax as --select,
    subtracted from the selection — for run, test, and docs."""
    import json

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)

    # run everything except the marts layer (tag selector)
    rc = main(["run", "--warehouse", wh, "--raw-dir", raw,
               "--exclude", "tag:marts"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "ran stg_eurostat__gdp" in out and "ran int_country_annual_metrics" in out
    for m in ("dim_country", "fct_economic_indicators", "rpt_annual_economic_summary"):
        assert f"ran {m}" not in out, out

    # exclude with graph operator: a model and its descendants
    rc = main(["run", "--warehouse", wh, "--raw-dir", raw,
               "--exclude", "int_country_annual_metrics+"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "ran stg_eurostat__gdp" in out
    assert "ran int_country_annual_metrics" not in out
    assert "ran py_anomaly_detection" not in out  # transitive descendant

    # test --exclude drops the excluded model's generic tests but keeps
    # everything else (sources included)
    rc = main(["test", "--raw-dir", raw, "--exclude", "stg_eurostat__gdp"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "stg_eurostat__gdp.gdp_key unique" not in out
    assert "stg_eurostat__unemployment.unemployment_key unique" in out
    assert "raw_gdp.geo_code not_null" in out  # source tests still run

    # docs --exclude prunes emitted model nodes
    assert main(["docs", "--warehouse", wh, "--raw-dir", raw,
                 "--exclude", "tag:marts"]) == 0
    m = json.load(open(os.path.join(wh, "manifest.json")))
    assert "stg_eurostat__gdp" in m["models"]
    assert "fct_economic_indicators" not in m["models"]

    # docs --exclude without --raw-dir: tags/names still resolve (never
    # silently ignored), unknown tokens and graph operators error
    assert main(["docs", "--warehouse", wh, "--exclude", "tag:marts"]) == 0
    m = json.load(open(os.path.join(wh, "manifest.json")))
    assert "fct_economic_indicators" not in m["models"]
    assert main(["docs", "--warehouse", wh, "--exclude", "nope"]) == 1
    assert main(["docs", "--warehouse", wh, "--exclude", "+dim_country"]) == 1
    capsys.readouterr()

    # unknown selector tokens exit 1 with a clean error on run too
    rc = main(["run", "--warehouse", wh, "--raw-dir", raw, "--exclude", "nope"])
    out = capsys.readouterr().out
    assert rc == 1 and "ERROR" in out and "Traceback" not in out


def test_cli_test_checks_materialized_relation(spark, tmp_path, capsys):
    """dbt test semantics: the suite must test the STORED relation, so
    a defect accumulated in the warehouse (here: duplicated rows
    injected into the incremental target after a clean build) fails the
    unique test even though a fresh recompute would pass."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    assert main(["build", "--warehouse", wh, "--raw-dir", raw,
                 "--now", "2024-03-01T00:00:00"]) == 0
    capsys.readouterr()

    # clean warehouse passes
    assert main(["test", "--warehouse", wh, "--raw-dir", raw]) == 0
    capsys.readouterr()

    # corrupt the stored fct: duplicate every row (a double-apply merge)
    path = os.path.join(wh, "fct_economic_indicators")
    fct = spark.read.parquet(path)
    dup = fct.unionByName(fct)
    tmp = path + ".dup"
    dup.write.parquet(tmp)
    import shutil

    shutil.rmtree(path)
    os.rename(tmp, path)

    rc = main(["test", "--warehouse", wh, "--raw-dir", raw])
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL" in out and "fct_economic_indicators" in out


def test_cli_test_opens_each_stored_relation_once(spark, tmp_path, capsys, monkeypatch):
    """`test` memoizes its stored-relation reader: a model with several
    declarations (fct_economic_indicators has 5) is opened once per
    verb, not once per declaration, and still passes."""
    from collections import Counter

    from pyspark.sql.readwriter import DataFrameReader

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    args = ["--warehouse", wh, "--raw-dir", raw, "--now", "2024-03-01T00:00:00"]
    assert main(["run", *args, "--select", "fct_economic_indicators"]) == 0
    capsys.readouterr()

    reads: Counter = Counter()
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **kwargs):
        reads.update(os.path.normpath(p) for p in paths)
        return parquet(self, *paths, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    rc = main(["test", *args, "--select", "fct_economic_indicators"])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert out.count("PASS  fct_economic_indicators.") == 5, out
    assert reads[os.path.join(wh, "fct_economic_indicators")] == 1, reads


def test_cli_build_resolves_once(spark, tmp_path, capsys, monkeypatch):
    """A command is one invocation: `build`'s stages share one selection
    and one dependency-graph harvest for it (run_models' schedule probe
    is the only other), and each raw source is read once across every
    stage and probe context. `ls` and `docs` with tag: selectors and no
    --raw-dir never start a session."""
    from collections import Counter

    from pyspark.sql.readwriter import DataFrameReader

    from dbt_economic_indicators_eu_spark import session
    from dbt_economic_indicators_eu_spark.plans.registry import Registry

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    reads: Counter = Counter()
    harvests = []
    parquet, dependency_graph = DataFrameReader.parquet, Registry.dependency_graph

    def counting_parquet(self, *paths, **kwargs):
        reads.update(os.path.normpath(p) for p in paths)
        return parquet(self, *paths, **kwargs)

    def counting_graph(self, *args, **kwargs):
        harvests.append(kwargs.get("select"))
        return dependency_graph(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    monkeypatch.setattr(Registry, "dependency_graph", counting_graph)
    rc = main(["build", "--warehouse", wh, "--raw-dir", raw,
               "--now", "2024-03-01T00:00:00", "--select", "stg_eurostat__gdp+"])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert len(harvests) <= 2, harvests
    raw_reads = {p: n for p, n in reads.items() if p.startswith(raw)}
    assert raw_reads == {
        os.path.join(raw, f"{name}.parquet"): 1
        for name in ("raw_gdp", "raw_unemployment", "raw_inflation", "raw_population")
    }, raw_reads

    def no_session(*args, **kwargs):
        raise AssertionError("a session was started")

    monkeypatch.setattr(session, "get_spark", no_session)
    assert main(["ls", "--select", "tag:marts"]) == 0
    assert main(["docs", "--warehouse", str(tmp_path / "docs"),
                 "--select", "tag:marts"]) == 0


def test_cli_test_types(spark, tmp_path, capsys):
    """The reference README's three test layers (README:343-348):
    bare `test` runs generic + unit + singular; `test_type:` selectors
    scope one layer; a >5% EU aggregate deviation fails the singular
    test with exit 1."""
    import datetime as dt

    raw = str(tmp_path / "raw")
    _write_raw(spark, raw)

    # bare test: all three layers present, all green
    rc = main(["test", "--raw-dir", raw])
    out = capsys.readouterr().out
    assert rc == 0
    assert "unit:test_gdp_per_capita_calculation" in out
    assert "singular:assert_eu_aggregate_consistency" in out
    assert ".gdp_key unique" in out  # generic layer ran too

    # test_type selectors isolate a layer (dbt README usage)
    rc = main(["test", "--raw-dir", raw, "--select", "test_type:unit"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "unit:" in out and "singular:" not in out and "unique" not in out

    rc = main(["test", "--raw-dir", raw, "--select", "test_type:singular"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "singular:" in out and "unit:" not in out
    assert "1 of 1 tests passed" in out

    # an unknown test_type errors instead of silently running nothing
    assert main(["test", "--raw-dir", raw, "--select", "test_type:nope"]) == 1
    capsys.readouterr()

    # model selectors scope within layers: unit tests run only for
    # their model-under-test (dbt attachment), singular tests for the
    # models they ref (dbt eager indirect selection — the EU
    # consistency test refs stg_eurostat__gdp, so selecting that model
    # includes it; selecting an unrelated model does not)
    rc = main(["test", "--raw-dir", raw, "--select", "stg_eurostat__gdp"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "unit:" not in out
    assert "singular:assert_eu_aggregate_consistency" in out
    rc = main(["test", "--raw-dir", raw, "--select", "int_country_annual_metrics"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "unit:test_gdp_per_capita_calculation" in out
    assert "unit:test_data_quality_flags" in out
    assert "unit:test_rolling_average_calculation" not in out  # other model
    assert "singular:" not in out

    # test_type:singular combined with a model scope honors BOTH —
    # a non-ref'd model runs no singular test (ADVICE r6 #2)
    rc = main(["test", "--raw-dir", raw,
               "--select", "test_type:singular", "int_country_annual_metrics"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "singular:" not in out and "0 of 0 tests passed" in out
    rc = main(["test", "--raw-dir", raw,
               "--select", "test_type:singular", "stg_eurostat__gdp"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "singular:assert_eu_aggregate_consistency" in out

    # inject a bad EU27_2020 aggregate (>5% off the member sum) → the
    # singular test returns violation rows and the verb exits 1
    ts = dt.datetime(2024, 2, 1)
    bad = [("nama_10_gdp", 1000.0, ts, "CP_MEUR", "m EUR", "B1GQ", "GDP",
            "EU27_2020", "EU", "2023")]
    spark.createDataFrame(bad, GDP_SCHEMA).write.mode("append").parquet(
        f"{raw}/raw_gdp.parquet"
    )
    rc = main(["test", "--raw-dir", raw, "--select", "test_type:singular"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "FAIL" in out and "assert_eu_aggregate_consistency" in out


def test_cli_test_select_skips_declared_only_source(spark, tmp_path, capsys):
    """A declared-but-unbound source in --select must be skipped (like
    the full run does), not crash the report mid-flight."""
    from dbt_economic_indicators_eu_spark.plans.registry import Registry
    from dbt_economic_indicators_eu_spark.testing.schedule import run_schema_tests

    reg = Registry()
    reg.source("raw_declared_only", tests=[("not_null", "x")])
    ok, rows = run_schema_tests(reg, reg.context(spark), select=["raw_declared_only"])
    assert ok and rows == []


def test_registry_source_rebind_keeps_freshness_policy():
    """A loader-only rebind must not reset a previously declared
    freshness policy back to the 7/30 defaults."""
    from dbt_economic_indicators_eu_spark.plans.registry import Registry

    reg = Registry()
    reg.source(
        "raw_x",
        loaded_at_field="extracted_at",
        warn_after_days=2,
        error_after_days=5,
        tests=[("not_null", "geo_code")],
    )
    reg.source("raw_x", lambda spark: None)  # CLI-style loader bind
    src = reg.sources["raw_x"]
    assert src.warn_after_days == 2 and src.error_after_days == 5
    assert src.loaded_at_field == "extracted_at"
    assert src.tests == (("not_null", "geo_code"),)
    assert src.loader is not None


def test_cli_store_failures_scoped_keeps_unselected_audit(spark, tmp_path, capsys):
    """ADVICE r8 #1: a scoped `test --select X --store-failures` run
    drops/recreates only the EXECUTED tests' audit relations — an
    unselected test's stored violations survive (dbt semantics), while
    a selected now-passing test's stale relation is pruned."""
    raw_bad = str(tmp_path / "raw_bad")
    raw_ok = str(tmp_path / "raw_ok")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw_bad, dup_gdp=True)
    _write_raw(spark, raw_ok)

    # unscoped failing run seeds the audit schema
    assert main(["test", "--warehouse", wh, "--raw-dir", raw_bad,
                 "--store-failures"]) == 1
    capsys.readouterr()
    gdp_audit = os.path.join(
        wh, "dbt_test__audit", "stg_eurostat__gdp__gdp_key__unique"
    )
    assert os.path.isdir(gdp_audit)

    # scoped run on a DIFFERENT (passing) model: gdp's relation survives
    assert main(["test", "--warehouse", wh, "--raw-dir", raw_bad,
                 "--store-failures", "--select", "stg_eurostat__population"]) == 0
    assert os.path.isdir(gdp_audit)

    # scoped run on gdp itself with fixed data: executed + now passing
    # -> its stale relation is pruned, and only its relations at that
    assert main(["test", "--warehouse", wh, "--raw-dir", raw_ok,
                 "--store-failures", "--select", "stg_eurostat__gdp"]) == 0
    assert not os.path.isdir(gdp_audit)


def test_cli_conflicting_clocks_rejected(spark, tmp_path):
    """ADVICE r8 #3: --now and a `now` var are ONE injectable clock; a
    conflicting pair must error instead of silently running the
    snapshot on args.now while the Python-model ports read the var."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    with pytest.raises(SystemExit, match="one clock per run"):
        main(["run", "--warehouse", wh, "--raw-dir", raw,
              "--now", "2024-03-01T00:00:00",
              "--vars", '{"now": "2024-04-01T00:00:00"}'])
    # agreeing values are fine (same clock spelled twice)
    assert main(["run", "--warehouse", wh, "--raw-dir", raw,
                 "--select", "stg_eurostat__gdp",
                 "--now", "2024-03-01T00:00:00",
                 "--vars", '{"now": "2024-03-01T00:00:00"}']) == 0


def test_cli_malformed_now_var_rejected_everywhere(spark, tmp_path):
    """ADVICE r8 #4: the `now` var is validated in _parse_vars, so
    EVERY verb that builds a context rejects a malformed clock at the
    flag — compile/docs included (they used to cast it Spark-side into
    a silently-null scored_at)."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    for argv in (
        ["compile", "--raw-dir", raw, "--select", "py_data_quality_scores",
         "--vars", '{"now": "not-a-timestamp"}'],
        ["docs", "--raw-dir", raw, "--warehouse", wh,
         "--vars", '{"now": "not-a-timestamp"}'],
        ["run", "--warehouse", wh, "--raw-dir", raw,
         "--vars", '{"now": 1234}'],
    ):
        with pytest.raises(SystemExit, match="now must be an ISO timestamp"):
            main(argv)


def test_cli_docs_serializes_now_var(spark, tmp_path):
    """_parse_vars coerces the `now` var to a datetime; the manifest is
    JSON, so docs must round-trip it back to an ISO string instead of
    crashing json.dump."""
    import json

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    assert main(["docs", "--warehouse", wh, "--raw-dir", raw,
                 "--vars", '{"now": "2025-01-01T00:00:00"}']) == 0
    m = json.load(open(os.path.join(wh, "manifest.json")))
    assert m["vars"]["now"] == "2025-01-01T00:00:00"


def test_cli_build_conflicting_clocks_abort_before_seed(spark, tmp_path):
    """build validates the clock pair BEFORE the seed stage: a
    conflicting --now / vars-now must leave zero warehouse mutations,
    same contract as malformed --vars JSON."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw)
    with pytest.raises(SystemExit, match="one clock per run"):
        main(["build", "--warehouse", wh, "--raw-dir", raw,
              "--now", "2024-03-01T00:00:00",
              "--vars", '{"now": "2024-04-01T00:00:00"}'])
    assert not os.path.isdir(wh)  # seed never ran


def test_cli_store_failures_audit_lifecycle_across_layers(spark, tmp_path, capsys):
    """Review r8: the audit schema is shared by the generic AND
    singular layers, so (a) a test_type:generic scoped run must not
    wipe a singular test's stored violations, and (b) a scoped run
    that executes a now-passing singular test must prune its stale
    relation."""
    import datetime as dt

    raw_bad = str(tmp_path / "raw_bad")
    wh = str(tmp_path / "wh")
    _write_raw(spark, raw_bad)
    ts = dt.datetime(2024, 2, 1)
    bad = [("nama_10_gdp", 1000.0, ts, "CP_MEUR", "m EUR", "B1GQ", "GDP",
            "EU27_2020", "EU", "2023")]  # >5% off the member sum
    spark.createDataFrame(bad, GDP_SCHEMA).write.mode("append").parquet(
        f"{raw_bad}/raw_gdp.parquet"
    )

    # unscoped store run: the failing singular test lands in the audit
    assert main(["test", "--warehouse", wh, "--raw-dir", raw_bad,
                 "--store-failures"]) == 1
    capsys.readouterr()
    sing_audit = os.path.join(wh, "dbt_test__audit", "assert_eu_aggregate_consistency")
    assert os.path.isdir(sing_audit)

    # a generic-layer-only store run is SCOPED for audit purposes: the
    # singular layer never executed, its stored violations survive
    assert main(["test", "--warehouse", wh, "--raw-dir", raw_bad,
                 "--store-failures", "--select", "test_type:generic"]) == 0
    assert os.path.isdir(sing_audit)

    # fixed data + scoped singular run: the test executes, now passes,
    # and its stale relation is pruned — nothing else touched
    raw_ok = str(tmp_path / "raw_ok")
    _write_raw(spark, raw_ok)
    assert main(["test", "--warehouse", wh, "--raw-dir", raw_ok,
                 "--store-failures", "--select", "test_type:singular"]) == 0
    assert not os.path.isdir(sing_audit)


def test_cli_conflicting_clocks_rejected_on_every_verb(tmp_path):
    """Review r8: the one-clock conflict check runs in main() BEFORE
    dispatch, so every verb that accepts both flags rejects a
    conflicting pair — with zero side effects (no Spark session, no
    warehouse writes: raw/warehouse paths here don't even exist)."""
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    for verb in ("ls", "seed", "run", "test", "snapshot", "build",
                 "source-freshness", "docs", "compile"):
        with pytest.raises(SystemExit, match="one clock per run"):
            main([verb, "--warehouse", wh, "--raw-dir", raw,
                  "--now", "2024-03-01T00:00:00",
                  "--vars", '{"now": "2024-04-01T00:00:00"}'])
    assert not os.path.isdir(wh)
