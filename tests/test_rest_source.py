"""REST source + rawload sink tests (sources/rest.py)."""

from __future__ import annotations

import os

import pytest

from dbt_economic_indicators_eu_spark.sources.rest import (
    build_url,
    fetch_datasets,
    load_raw,
)


def test_build_url_repeats_list_params():
    url = build_url("http://x/api", "nama_10_gdp", {"geo": ["DE", "FR"], "format": "JSON"})
    assert url == "http://x/api/nama_10_gdp?geo=DE&geo=FR&format=JSON"


def test_fetch_datasets_injected_transport(spark):
    calls = []

    def fake(url, params):
        calls.append(url)
        return '{"ok": true}'

    df = fetch_datasets(spark, ["a", "b"], fetch_fn=fake, base_url="http://x")
    rows = {r.dataset_code: r.payload for r in df.collect()}
    assert rows == {"a": '{"ok": true}', "b": '{"ok": true}'}
    assert calls == ["http://x/a", "http://x/b"]


def test_fetch_datasets_retries_then_raises(spark):
    attempts = []

    def flaky(url, params):
        attempts.append(url)
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        fetch_datasets(spark, ["a"], fetch_fn=flaky, base_url="http://x", retries=2)
    assert len(attempts) == 3  # initial + 2 retries


def test_load_raw_create_append_full_refresh(spark, tmp_path):
    path = os.path.join(str(tmp_path), "raw")
    one = spark.createDataFrame([(1, "a")], "id bigint, v string")
    two = spark.createDataFrame([(2, "b")], "id bigint, v string")

    assert load_raw(one, path).count() == 1  # create-if-absent
    assert load_raw(two, path).count() == 2  # append
    assert load_raw(one, path, full_refresh=True).count() == 1  # drop+reload


def test_decode_jsonstat_real_api_shape_matches_reference_algorithm(spark):
    """The live Eurostat API nests dimension categories as
    category.index objects (code -> position); the decoder must invert
    them exactly like the reference's parse_eurostat_json
    (extract_eurostat.py:135-175) — and carry non-payload columns
    through so a many-payload frame decodes in one attributable pass.
    The simplified fixture form (id -> ordered code array) must keep
    decoding identically alongside it."""
    import json

    from dbt_economic_indicators_eu_spark.localdata import local_df
    from dbt_economic_indicators_eu_spark.sources.jsonstat import decode_jsonstat

    real = json.dumps(
        {
            "id": ["geo", "time"],
            "size": [2, 3],
            "dimension": {
                "geo": {
                    "category": {
                        "index": {"DE": 0, "FR": 1},
                        "label": {"DE": "Germany", "FR": "France"},
                    }
                },
                "time": {"category": {"index": {"2021": 0, "2022": 1, "2023": 2}}},
            },
            "value": {"0": 1.5, "3": 4.5, "5": 9.0},
        }
    )
    simple = json.dumps(
        {
            "id": ["geo", "time"],
            "size": [2, 2],
            "dimension": {"geo": ["DE", "FR"], "time": ["2022", "2023"]},
            "value": [1.0, 2.0, 3.0, 4.0],
        }
    )
    df = local_df(
        spark,
        [("ds_real", real), ("ds_simple", simple)],
        "dataset_code string, payload string",
    )
    got = {
        (r.dataset_code, r.flat_index): (r.codes["geo"], r.codes["time"], r.value)
        for r in decode_jsonstat(df).collect()
    }

    # reference algorithm (extract_eurostat.py:135-175) in plain Python
    def reference(ds, payload):
        data = json.loads(payload)
        dim_ids, sizes = data["id"], data["size"]
        codes_by_pos = {}
        for d in dim_ids:
            dim = data["dimension"][d]
            if isinstance(dim, list):
                codes_by_pos[d] = dict(enumerate(dim))
            else:
                codes_by_pos[d] = {v: k for k, v in dim["category"]["index"].items()}
        strides, stride = [], 1
        for size in reversed(sizes):
            strides.insert(0, stride)
            stride *= size
        vals = data["value"]
        items = (
            ((i, v) for i, v in enumerate(vals))
            if isinstance(vals, list)
            else ((int(k), v) for k, v in vals.items())
        )
        out = {}
        for flat, v in items:
            remaining, rec = flat, []
            for i, d in enumerate(dim_ids):
                pos = remaining // strides[i]
                remaining %= strides[i]
                rec.append(codes_by_pos[d][pos])
            out[(ds, flat)] = (rec[0], rec[1], v)
        return out

    want = reference("ds_real", real) | reference("ds_simple", simple)
    assert got == want


def test_cli_build_runs_snapshot_once(spark, tmp_path, monkeypatch):
    """build --select including a snapshot must materialize it exactly
    once (in the snapshot stage) — a run stage that merged it too would
    do so with a different auto-filled clock."""
    from collections import Counter

    from dbt_economic_indicators_eu_spark import __main__ as cli
    from dbt_economic_indicators_eu_spark.materialize import run as run_mod

    snapshots: Counter = Counter()
    orig = run_mod.run_snapshot

    def spy(spark, path, *args, **kwargs):
        snapshots[os.path.basename(path)] += 1
        return orig(spark, path, *args, **kwargs)

    monkeypatch.setattr(run_mod, "run_snapshot", spy)
    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    import tests.test_cli as tc

    tc._write_raw(spark, raw)
    rc = cli.main(
        ["build", "--warehouse", wh, "--raw-dir", raw, "--now",
         "2024-03-01T00:00:00", "--select", "stg_eurostat__gdp+"]
    )
    assert rc == 0
    assert snapshots == {"snap_gdp_history": 1}


def test_cli_source_freshness_without_sources_errors(tmp_path, capsys):
    """source-freshness with no bound loaders must exit non-zero — a CI
    gate wired to the exit code must not pass while checking nothing."""
    from dbt_economic_indicators_eu_spark.__main__ import main

    rc = main(["source-freshness"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "no sources with freshness" in out


def test_decode_jsonstat_rejects_cell_carry_column(spark):
    """'cell' is the decoder's intermediate explode alias — a carry
    column of that name must hit the designed ValueError, not an
    AMBIGUOUS_REFERENCE crash mid-plan."""
    import pytest

    from dbt_economic_indicators_eu_spark.sources.jsonstat import decode_jsonstat

    df = spark.createDataFrame([("x", "{}")], "cell string, payload string")
    with pytest.raises(ValueError, match="collide"):
        decode_jsonstat(df, json_col="payload")
