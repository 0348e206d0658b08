"""Direct unit pins of the cross-engine twin helpers, independent of
any query: (1) ``money4_sum_r2`` / ``money4_sum_sql`` on ENGINEERED
.xx5 half-boundary sums (the production gate only hits boundaries the
testdata happens to contain); (2) the two tokenizer twins (Spark
Column, DuckDB SQL) on adversarial charset text — every char
any engine's default trim/``\\s`` treats specially.

These pin the CONTRACTS the parity architecture rests on, so a future
edit to one twin fails here before it fails a probabilistic gate.
"""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from dbt_economic_indicators_eu_spark.queries.common import (
    money4_sum_r2,
    money4_sum_sql,
)
from dbt_economic_indicators_eu_spark.queries.datapipe import (
    _ORACLE_SHINGLES,
    _with_shingles,
)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


# engineered groups: summand cents chosen so the EXACT group sum of the
# 4-decimal product lands on a .xx5 half boundary (price * (1-disc)
# with disc=0.0 keeps the arithmetic transparent)
_BOUNDARY_GROUPS = [
    # (prices, expected half-up cents sum)
    ([10.01, 10.015], 20.03),            # 20.025 -> .03 (half-up)
    ([0.005], 0.01),                     # .005   -> .01
    ([1.0, 2.0, 0.125], 3.13),           # 3.125  -> .13 (0.125 IS binary-exact)
    ([17814815.935], 17814815.94),       # the live sf0.01 NATION_22 shape
    ([100.0, 200.0], 300.0),             # non-boundary sanity
]


def test_money4_sum_halfup_boundaries(spark, duck):
    """At every engineered boundary, Spark helper == DuckDB twin ==
    half-up expectation. A plain round(sum(x), 2) diverges between the
    engines on several of these (Spark rounds the double's shortest
    decimal string, DuckDB the binary value)."""
    for i, (prices, expect) in enumerate(_BOUNDARY_GROUPS):
        # NOTE: prices here are the PRODUCT values (disc = 0), entered
        # with up to 4 decimals — the helper's input domain
        df = spark.createDataFrame([(p,) for p in prices], "x double")
        got_spark = df.agg(money4_sum_r2(F.col("x")).alias("s")).collect()[0].s
        vals = ", ".join(f"({p!r})" for p in prices)
        got_duck = duck.execute(
            f"SELECT {money4_sum_sql('x')} FROM (VALUES {vals}) t(x)"
        ).fetchone()[0]
        assert got_spark == got_duck == pytest.approx(expect, abs=0), (
            i, prices, got_spark, got_duck, expect,
        )


def test_revised_price_boundary_parity(spark, duck):
    """The incremental_upsert revision formula (price*1.1 snapped to
    integer thousandths, half-up to cents) agrees across engines at
    the verified live divergence point 71995.15 (where round(x*1.1, 2)
    gives .67 on Spark and .66 on DuckDB)."""
    price = 71995.15
    m = F.round(F.lit(price) * 1100).cast("bigint")
    got_spark = (
        spark.range(1)
        .select((F.floor((m + F.lit(5)) / F.lit(10)).cast("bigint") / F.lit(100.0)).alias("p"))
        .collect()[0]
        .p
    )
    got_duck = duck.execute(
        f"SELECT CAST(floor((CAST(round({price!r} * 1100) AS BIGINT) + 5) / 10) AS BIGINT) / 100.0"
    ).fetchone()[0]
    assert got_spark == got_duck == 79194.67


# every char class any engine's DEFAULT trim / \s handles differently:
# explicit-class members, NBSP family (DuckDB one-arg trim), Unicode
# line/para separators + C0 seps + NEL (Unicode-aware strips), and
# plain words — edges AND interiors
_NASTY = [
    "plain words only",
    " leading and trailing spaces ",
    "\ttab\nnl\x0bvt\fff\rcr mix\x0b",
    "\u00a0nbsp edge and\u00a0inner\u00a0",
    "\u2028ls edge\u2029ps inner\u2028",
    "\x1cfs\x1dgs\x1ers\x1fus edges\x1f",
    "\u0085nel edge\u0085",
    "\u3000ideographic\u3000space\u3000",
    "\u2007figure\u202fnarrow nbsp\u2007",
    "MiXeD CaSe WİTH İstanbul Σ",
    "",
    " ",
    "\u00a0",
    None,
]


def test_tokenizer_twins_nasty_charset(spark, duck, tmp_path):
    """Shingle sets from the JVM twin (_with_shingles) and the DuckDB
    twin (_ORACLE_SHINGLES) must be IDENTICAL per document over the
    adversarial charset."""
    rows = [(i, t) for i, t in enumerate(_NASTY)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    jvm = {
        r.doc_id: sorted(r.shingles)
        for r in _with_shingles(df).select("doc_id", "shingles").collect()
    }
    pdf = df.toPandas()
    duck.register("documents", pdf)
    sql = _ORACLE_SHINGLES
    ddb = {
        int(r[0]): sorted(r[1])
        for r in duck.execute(sql).fetchall()
    }
    duck.unregister("documents")
    # NO set() here: both twins dedup internally (array_distinct /
    # list_distinct), so compare WITH multiplicity — a dedup-removal
    # edit to either twin must fail this test
    for i, _t in rows:
        assert jvm[i] == ddb[i], (i, repr(_t), jvm[i], ddb[i])
