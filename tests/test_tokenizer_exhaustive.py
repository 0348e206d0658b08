"""Exhaustive certification of the two-twin tokenizer contract
(`normalized_words` / ORACLE_WORDS_EXPR — see queries/datapipe.py's
pinned tokenization block): the shingle MULTISET must be identical
across the Spark Column and DuckDB SQL twins for EVERY Unicode
codepoint, not just the curated nasty list in tests/test_twin_pins.py.

Two layers, both deterministic (no flaky sampling):

1. a full single-codepoint sweep — every BMP scalar (surrogates are
   not Unicode scalar values and cannot ride UTF-8/Arrow) plus a
   strided sample of all 16 astral planes, each embedded at word-edge,
   isolated, word-interior, and word-trailing positions around the
   case-fold classes;
2. a seeded random-combination corpus — multi-char interactions
   (whitespace runs, pinned-trim chars at edges, fold pairs, NUL,
   bidi controls, astral clusters) that a one-codepoint-at-a-time
   sweep cannot produce.

Everything funnels through ONE Spark job + one DuckDB scan per layer,
so the exhaustive sweep stays cheap (~67k tiny rows).

Comparison is sorted-list (order-free, multiplicity-preserving):
DuckDB's list_distinct does not preserve first-seen order while
array_distinct does — same convention as test_twin_pins.py.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from dbt_economic_indicators_eu_spark.queries.datapipe import (
    _ORACLE_SHINGLES,
    _with_shingles,
)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


def _two_way(spark, duck, texts):
    """Shingle each text through both twins; return the doc_ids whose
    sorted shingle lists disagree, with the disagreeing values."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    jvm = {
        r.doc_id: sorted(r.shingles)
        for r in _with_shingles(df).select("doc_id", "shingles").collect()
    }
    pdf = df.toPandas()
    duck.register("documents", pdf)
    ddb = {int(r[0]): sorted(r[1]) for r in duck.execute(_ORACLE_SHINGLES).fetchall()}
    duck.unregister("documents")
    return [(i, repr(t), jvm[i], ddb[i]) for i, t in rows if jvm[i] != ddb[i]]


def test_every_codepoint_tokenizes_identically(spark, duck):
    """Full BMP + strided astral sweep: one document per codepoint,
    the char planted at every structural position (leading edge,
    isolated token, interior, trailing edge) amid mixed-case words so
    the fold, the whitespace class, and the trim charset are all in
    play. 0 divergent codepoints certified on 2026-08-15."""
    cps = (
        list(range(0x00, 0xD800))
        + list(range(0xE000, 0x10000))
        + list(range(0x10000, 0x110000, 257))
    )
    texts = [f"{chr(c)}Aa {chr(c)} bB{chr(c)}cc Dd{chr(c)}" for c in cps]
    bad = _two_way(spark, duck, texts)
    assert not bad, (len(bad), bad[:5])


# alphabet weighted toward the characters any engine treats specially:
# the pinned \s class, the NOT-whitespace lookalikes each engine's
# default trim/strip would eat, fold pairs, NUL, bidi controls, ZWJ,
# and astral chars — plus plain letters so real words form
_NASTY_ALPHABET = (
    " \t\n\x0b\f\r"  # the pinned whitespace class
    "\x00\x1c\x1d\x1e\x1f\x85"  # NUL + C0 seps + NEL (Unicode-strip bait)
    "        　"  # Unicode spaces (DuckDB-trim bait)
    "​‍⁠﻿"  # zero-width / joiners / BOM
    "‪‮⁦⁩"  # bidi controls
    "AZaz"  # fold boundaries
    "İıſΣς"  # İ ı ſ Σ ς (full-casefold bait)
    "\U0001f600\U0001f3fd\U00010000"  # astral
    "ekqx058.,-"  # filler so words of length > 1 form
)


def test_random_charset_combinations_match(spark, duck):
    """2,000 seeded random strings over the nasty alphabet (lengths
    0-60, plus every length-1 and length-2 prefix regime): multi-char
    interactions — whitespace runs, nasty chars at BOTH string edges,
    fold chars adjacent to separators — that the single-codepoint
    sweep cannot produce. Seeded, so a failure is reproducible."""
    rng = random.Random(42)
    texts: list[str | None] = [None, ""]
    for _ in range(2000):
        n = rng.choice((0, 1, 2, 3, 5, 8, 13, 21, 34, 60))
        texts.append("".join(rng.choice(_NASTY_ALPHABET) for _ in range(n)))
    bad = _two_way(spark, duck, texts)
    assert not bad, (len(bad), bad[:5])
