"""Exhaustive certification of the minhash arithmetic twins
(queries/datapipe.py): the universal-hash permutation family
``perm_i(h) = (a_i*h + b_i) mod p`` is claimed exact in BOTH engines'
integer types — Spark ``bigint`` in the band helper's Column
expression (``_mh_min``), signed BIGINT in the DuckDB oracle
(_oracle_minhash_list). This pins that claim against
arbitrary-precision Python ints over the full u32 input domain (dense
boundary blocks + stride + seeded random), plus the md5-prefix u32
shingle hash (``md5_bucket``) against ``hashlib`` on a broad seeded
string corpus.

Both legs evaluate the production Column expressions in Spark, so
Spark == Python == DuckDB covers every engine the queries run on.
"""

from __future__ import annotations

import hashlib
import random

import duckdb
import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from dbt_economic_indicators_eu_spark.queries.common import md5_bucket, md5_bucket_sql
from dbt_economic_indicators_eu_spark.queries.datapipe import (
    _MH_A,
    _MH_B,
    _MH_PRIME,
    _mh_min,
    _oracle_minhash_list,
)


def test_perm_family_stays_under_int64():
    """The static no-overflow claim, in exact integer arithmetic: the
    worst-case a*h + b must clear signed int64 (Spark ``bigint`` and
    DuckDB BIGINT) — the margin is only ~2.6e11 out of 9.2e18, so a
    future edit to _MH_A must re-prove it here."""
    h_max = 2**32 - 1
    worst = max(a * h_max + b for a, b in zip(_MH_A, _MH_B))
    assert worst < 2**63, worst
    assert all(a < 2**31 for a in _MH_A)


def _h_grid() -> list[int]:
    rng = np.random.default_rng(11)
    parts = [
        np.arange(0, 4096, dtype=np.uint64),  # low boundary block
        np.arange(2**32 - 4096, 2**32, dtype=np.uint64),  # high boundary
        np.arange(0, 2**32, 65537, dtype=np.uint64),  # stride sweep
        rng.integers(0, 2**32, size=100_000, dtype=np.uint64),  # seeded
    ]
    return [int(h) for h in np.unique(np.concatenate(parts))]


def test_perm_family_exact_across_engines(spark):
    """The band helper's per-permutation Column (array_min over the
    bigint transform, rendered as the band-key string) == arbitrary-
    precision Python == the oracle's DuckDB BIGINT fold, for every
    permutation over the h grid. Spark runs with ANSI arithmetic, so an overflow would
    raise, not wrap."""
    hs = _h_grid()
    df = spark.createDataFrame([(h,) for h in hs], "h bigint")
    perms = range(len(_MH_A))
    got = df.select(
        "h", *[_mh_min(F.array("h"), i).alias(f"m{i}") for i in perms]
    ).collect()
    spark_sig = {r.h: [r[f"m{i}"] for i in perms] for r in got}
    assert len(spark_sig) == len(hs)

    con = duckdb.connect()
    con.register("hv", pd.DataFrame({"h": pd.Series(hs, dtype="int64")}))
    exprs = ", ".join(f"CAST({_oracle_minhash_list(i)} AS VARCHAR)" for i in perms)
    duck_sig = {
        int(r[0]): list(r[1:])
        for r in con.execute(f"SELECT h, {exprs} FROM (SELECT h, [h] AS hv FROM hv)").fetchall()
    }

    for h in hs:
        truth = [str((a * h + b) % _MH_PRIME) for a, b in zip(_MH_A, _MH_B)]
        assert spark_sig[h] == truth == duck_sig[h], (h, spark_sig[h], duck_sig[h], truth)


def test_md5_prefix_u32_twin_on_seeded_corpus(spark):
    """The 32-bit shingle hash (``md5_bucket``, the md5 hex-prefix) in
    Spark equals ``hashlib`` ground truth and the DuckDB twin
    (``md5_bucket_sql``, the expression the oracles pin) over 10k
    seeded strings spanning ascii/unicode/empty/whitespace shapes."""
    rng = random.Random(23)
    alphabet = "ab zρ \t0."
    corpus = [""] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24)))
        for _ in range(10_000)
    ]
    truth = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in corpus]
    rows = spark.createDataFrame(list(enumerate(corpus)), "i int, s string").select(
        "i", md5_bucket(F.col("s")).alias("h")
    ).collect()
    got = [r.h for r in sorted(rows, key=lambda r: r.i)]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(corpus)), "s": corpus}))
    ddb = [
        int(r[0])
        for r in con.execute(f"SELECT {md5_bucket_sql('s')} FROM t ORDER BY i").fetchall()
    ]
    assert got == truth
    assert ddb == truth
    assert all(0 <= h < 2**32 for h in truth)
