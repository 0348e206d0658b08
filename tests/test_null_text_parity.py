"""Cross-engine parity on NULL ``text`` for the shingle-based queries.

The shared tokenizer maps None→'' in both engines (fingerprint =
md5(''), simhash voted from the single '' shingle); before the
``coalesce(text, '')`` in ``_ORACLE_SHINGLES`` DuckDB produced
shingles=[NULL] → fingerprint NULL and all -1 simhash votes. The production testdata has no null
text, so the driver gate can't catch a regression here — this test
runs the REAL queries and their REAL oracle SQL on a corpus that
includes a null-text document and diffs the outputs.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from dbt_economic_indicators_eu_spark.queries.datapipe import (
    ORACLE_FINGERPRINT,
    ORACLE_SIMHASH,
    q_fingerprint,
    q_simhash,
)


def _corpus(spark, tmp_path):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today", "en", "t"),
        (1, None, "en", "t"),
        (2, "", "en", "t"),
        (3, "   ", "en", "t"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")
    sf_dir = str(tmp_path / "sf")
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    con = duckdb.connect()
    # Spark writes a directory; DuckDB globs the part files
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    return sf_dir, con


def _diff(sdf: pd.DataFrame, odf: pd.DataFrame):
    a = sdf.sort_values("doc_id").reset_index(drop=True)
    b = odf[a.columns].sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_fingerprint_null_text_matches_oracle(spark, tmp_path):
    sf_dir, con = _corpus(spark, tmp_path)
    sdf = q_fingerprint(spark, sf_dir).toPandas()
    odf = con.execute(ORACLE_FINGERPRINT).fetchdf()
    # null, empty, and whitespace-only text all shingle to [''] in both
    # engines → identical md5('') fingerprint, never NULL
    assert sdf["fingerprint"].notna().all()
    assert sdf.set_index("doc_id")["fingerprint"][1] == sdf.set_index("doc_id")["fingerprint"][2]
    _diff(sdf, odf)


def test_simhash_null_text_matches_oracle(spark, tmp_path):
    sf_dir, con = _corpus(spark, tmp_path)
    sdf = q_simhash(spark, sf_dir).toPandas()
    odf = con.execute(ORACLE_SIMHASH).fetchdf()
    by_id = sdf.set_index("doc_id")["simhash16"]
    assert by_id[1] == by_id[2] == by_id[3]  # all degenerate to ['']
    _diff(sdf, odf)
