"""Pins for the performance-path rewrites: the vectorized code must
compute EXACTLY what the JVM-expression form it replaced computed, and
the caching layers must never leak across keys.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF_A = "/root/testdata/sf0.001"
SF_B = "/root/testdata/sf0.01"


def test_scan_cache_keys_by_sf_dir(spark):
    """Two scale factors in one session must hit different cache
    entries — a collision would silently serve the wrong table."""
    from dbt_economic_indicators_eu_spark.queries.common import load

    a = load(spark, SF_A, "customer").count()
    b = load(spark, SF_B, "customer").count()
    assert a != b  # sf0.001 and sf0.01 differ in row count
    # second lookup returns the identical cached plan object
    assert load(spark, SF_A, "customer") is load(spark, SF_A, "customer")


def test_state_partitions_ctx_restores_conf(spark):
    from dbt_economic_indicators_eu_spark.streaming.pipeline import state_partitions

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with state_partitions(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    # None = no-op
    with state_partitions(spark, None):
        assert spark.conf.get(key) == before


def test_executor_slots_from_master(spark):
    """One slot derivation: local[N] → N, local[*] → the CPUs this
    process may run on (the same count as the default master's N),
    any cluster master → defaultParallelism. widen_narrow_scan keeps
    max(defaultParallelism, slots) as its width."""
    import os

    from dbt_economic_indicators_eu_spark.queries.common import (
        executor_slots,
        load,
        master_slots,
        widen_narrow_scan,
    )

    assert master_slots("local[3]", 7) == 3
    assert master_slots("local[12]", 2) == 12
    assert master_slots("local[*]", 2) == len(os.sched_getaffinity(0))
    assert master_slots("spark://host:7077", 48) == 48
    assert master_slots("yarn", 96) == 96
    assert master_slots("local-cluster[2,3,1024]", 6) == 6

    assert spark.sparkContext.master == "local[4]"
    assert executor_slots(spark) == 4
    ev = load(spark, SF_A, "events")
    assert len(ev.inputFiles()) < 4  # single-file scan: the widener fires
    width = widen_narrow_scan(ev).rdd.getNumPartitions()
    assert width == max(spark.sparkContext.defaultParallelism, 4)


def test_dedup_bucket_udf_matches_jvm_fold(spark):
    """The numpy bucket assignment must agree bit-for-bit with the
    sequential-fold JVM expression it replaced (sign margins are huge —
    see q_dedup_embedding — but agreement is asserted, not assumed)."""
    from dbt_economic_indicators_eu_spark.queries import simsearch as s

    emb = s.load(spark, SF_A, "embeddings")

    # reference form: the original interpreted HOF expression
    def jvm_bucket(v, t):
        out = None
        for j, plane in enumerate(s._DEDUP_PLANES[t]):
            bit = F.when(s._dot(v, s._lit_array(plane)) > 0, F.lit(1 << j)).otherwise(F.lit(0))
            out = bit if out is None else out + bit
        return out.cast("int")

    v = s._vec_double()
    jvm = emb.select(
        "vec_id", F.array(*[jvm_bucket(v, t) for t in range(s._DEDUP_TABLES)]).alias("b")
    )
    vec = emb.select("vec_id", s._dedup_buckets_udf()("embedding").alias("b"))
    jvm_rows = {r["vec_id"]: list(r["b"]) for r in jvm.collect()}
    vec_rows = {r["vec_id"]: list(r["b"]) for r in vec.collect()}
    assert jvm_rows == vec_rows


def test_byte_sum_udf(spark):
    from dbt_economic_indicators_eu_spark.queries.datapipe import byte_sum_udf

    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x01\xff")), (2, bytearray(b"")), (3, None)],
        "id int, b binary",
    )
    rows = {r["id"]: r["s"] for r in df.select("id", byte_sum_udf()("b").alias("s")).collect()}
    assert rows[1] == 0 + 1 + 255
    assert rows[2] == 0
    assert rows[3] is None


def test_storage_layout_cache_reuses_write(spark):
    """Second invocation against the same (session, sf_dir) must not
    rewrite the layout — the cached base dir is reused."""
    from dbt_economic_indicators_eu_spark.queries import storage
    from dbt_economic_indicators_eu_spark.queries.common import session_scratch

    storage.q_partition_pruned(spark, SF_A).count()
    base1 = session_scratch(spark, ("partitioned", SF_A))
    storage.q_partition_pruned(spark, SF_A).count()
    assert session_scratch(spark, ("partitioned", SF_A)) is base1


def test_aqe_skew_join_splits_hot_partition(spark):
    """The 100 TB posture claims AQE skew-join handles hot keys
    (README, session.py). Pin it: a join where one key holds ~100x the
    median rows must show skew-split markers in the FINAL adaptive
    plan once the skew thresholds are scaled down to test size."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # keep AQE from pre-coalescing the skewed partition away
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        skewed = spark.range(0, 60_000).selectExpr(
            "CASE WHEN id % 3 = 0 THEN 0 ELSE id END AS k",
            # incompressible pad: skew detection reads COMPRESSED map
            # sizes, so a repeated literal would deflate below threshold
            "md5(concat(cast(id AS string), 'salt')) AS pad",
        )
        dim = spark.range(0, 2_000).selectExpr("id AS k", "id * 2 AS v")
        df = skewed.join(dim, "k")
        # collect (not a v2 write): the final adaptive plan must be
        # inspected on the SAME QueryExecution that ran.
        # expected rows: hot key 0 = 20k matches; plus the non-multiples
        # of 3 below the dim bound 2000 (2000/3*2 = 1333)
        assert len(df.collect()) == 21_333
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
        assert "AQEShuffleRead skewed" in final
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
