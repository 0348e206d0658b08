"""Multilingual-text cross-engine parity: documents carrying CJK,
Greek (context-sensitive final sigma), Turkish dotted/dotless I,
combining marks, emoji, and Devanagari, checked query-vs-oracle.

Two divergence classes this guards (both found in round 4):
- Tokenizer case folding: Java lower() applies full case
  mapping ('İ' -> 'i' + combining dot; word-final 'Σ' -> 'ς') while
  DuckDB's utf8proc applies simple folding — the shared tokenizer
  therefore folds ASCII [A-Z] ONLY (datapipe.ascii_fold and its twins).
- Byte-vs-character indexing: the fake media codec operates on UTF-8
  bytes, so the media oracles must extract BYTES (via to_hex hex
  slicing), not characters — ascii(substr(text, i, 1)) only coincides
  on pure-ASCII corpora.
- Whitespace-class divergence (round 5): Java regex \\s includes \\x0b
  (vertical tab) but DuckDB's RE2 \\s does not, so the tokenizer twins
  use the explicit class [ \\t\\n\\x0b\\f\\r]+ — pinned here by a
  chr(11)-bearing document.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbt_economic_indicators_eu_spark.queries.common import TABLES, all_queries

SRC = "/root/testdata/sf0.001"

_UNI = [
    "café naïve résumé coöperate",
    "中文 文本 数据 处理 系统",
    "ΣΊΣΥΦΟΣ sigma ΤΕΛΟΣ",
    "İstanbul I i İ ı",
    "emoji 😀 🌍 test 🎉 done",
    "combining é vs precomposed é",
    "ß STRASSE straße",
    "मिश्रित देवनागरी पाठ",
    # \x0b (vertical tab): in Java-regex \s but NOT in RE2 \s — must
    # tokenize identically via the explicit whitespace class
    "vertical\x0btab\x0b\x0bsplit mixed \x0b ws",
    "tab\tnewline\nformfeed\fcarriage\rmix",
    # trim-charset pins (round 5): both tokenizer twins strip EXACTLY
    # 0x20 at the edges (Spark trim / DuckDB trim(x, ' ')). NBSP-class
    # chars (DuckDB's ONE-arg trim strips them) and U+2028 / \x1c
    # (a Unicode-aware strip would eat them) must SURVIVE at text
    # edges in both engines.
    " nbsp leading and trailing ",
    " line separator edge ",
    "\x1cfile separator edge\x1f",
    "　ideographic space edge　",
]

_CHECK = [
    # tokenizer-identity sensitive
    "fingerprint",
    "simhash",
    "vocab_topk",
    "unigram_logprob",
    "tfidf_topk",
    "repetition_stats",
    "dedup_minhash",
    "lang_id",
    "paragraph_dedup",
    # byte-vs-char sensitive
    "media_features",
    "media_pipeline",
    "frame_sample",
    "text_stats",
    "text_clean",
    "chunk_documents",
    # whitespace-class sensitive (\x0b)
    "token_count",
]


@pytest.fixture(scope="module")
def unicode_sf(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_unicode"))
    for t in TABLES:
        tbl = pq.read_table(f"{SRC}/{t}.parquet")
        if t == "documents":
            n = tbl.num_rows
            # each _UNI entry rotates through BOTH text positions:
            # leading (edge chars at text START) and trailing (edge
            # chars at text END) — the trim-charset pins need both
            texts = [
                f"{_UNI[i % len(_UNI)]} doc{i} {_UNI[(i + 3) % len(_UNI)]}"
                for i in range(n)
            ]
            tbl = tbl.set_column(
                tbl.column_names.index("text"), "text", pa.array(texts)
            ).set_column(
                tbl.column_names.index("n_chars"),
                "n_chars",
                pa.array([len(x) for x in texts], pa.int64()),
            )
        pq.write_table(tbl, f"{d}/{t}.parquet")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    return d, con


@pytest.mark.parametrize("name", _CHECK)
def test_unicode_corpus_matches_oracle(spark, unicode_sf, oracle_normalize, name):
    normalize = oracle_normalize
    d, con = unicode_sf
    q = all_queries()[name]
    sdf = q.builder(spark, d).toPandas()
    odf = con.execute(q.oracle).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    assert len(sdf) == len(odf)
    pd.testing.assert_frame_equal(
        normalize(sdf), normalize(odf), check_dtype=False, check_exact=False, rtol=0, atol=1e-9
    )
