"""Scale-stress smoke for the dedup/ANN path (VERDICT r4 ask #8).

Converts the "scale-safe by reading" claims of the LLM-pipeline
operators into a measured artifact: a synthetically duplicated
sf0.1 x 10 corpus (50k docs, every document with 10 exact copies — the
worst realistic dedup regime short of adversarial) runs
dedup_minhash → dedup_cluster → knn_brute end-to-end, plus the
embedding-dedup leg (dedup_embedding on 10x-replicated vectors), with

- recall accounting: every replica group must surface as one cluster
  of size >= 10 (no silent pair loss through banding / verification),
- hot-bucket accounting: a degenerate 2000-member bucket is DROPPED
  with exact observe counts, never silently paired (quadratic guard),
- shuffle balance: no candidate-pair partition carries more than 10x
  the median (the skew bound the plans claim).

Marked slow: ~1-2 min wall at local[32].
"""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.slow

SRC = "/root/testdata/sf0.1"
REPLICAS = 10
OFFSET = 1_000_000  # replica id offset; multiple of _QUERY_MOD (50)


@pytest.fixture(scope="module")
def scaled_sf(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("sf_scaled"))
    for table, id_col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        t = pq.read_table(f"{SRC}/{table}.parquet")
        parts = []
        for i in range(REPLICAS):
            shifted = t.set_column(
                t.column_names.index(id_col),
                id_col,
                pc.add(t.column(id_col), i * OFFSET),
            )
            parts.append(shifted)
        pq.write_table(pa.concat_tables(parts), f"{d}/{table}.parquet")
    return d


@pytest.fixture(scope="module")
def pipeline(spark, scaled_sf):
    """Run the three stages once, share results across asserts."""
    from dbt_economic_indicators_eu_spark.queries.datapipe import (
        q_dedup_cluster,
        q_dedup_minhash,
    )
    from dbt_economic_indicators_eu_spark.queries.simsearch import q_knn_brute

    pairs = q_dedup_minhash(spark, scaled_sf).localCheckpoint(eager=True)
    clusters = q_dedup_cluster(spark, scaled_sf).localCheckpoint(eager=True)
    knn = q_knn_brute(spark, scaled_sf).localCheckpoint(eager=True)
    return pairs, clusters, knn


def test_replica_pairs_fully_recalled(spark, pipeline):
    """Every one of the 5000 replica groups must produce all C(10,2)
    ordered pairs — exact duplicates share every band, so banding may
    not lose a single one."""
    from pyspark.sql import functions as F

    pairs, _, _ = pipeline
    same_base = pairs.filter(
        (F.col("doc_id_a") % OFFSET) == (F.col("doc_id_b") % OFFSET)
    )
    n_base = 5000
    expected = n_base * (REPLICAS * (REPLICAS - 1) // 2)
    assert same_base.count() == expected


def test_clusters_cover_all_replicas(spark, pipeline):
    from pyspark.sql import functions as F

    _, clusters, _ = pipeline
    # every scaled doc participates in >= 1 pair (its 9 replicas), so
    # every doc must carry a component label
    assert clusters.count() == 5000 * REPLICAS
    sizes = clusters.groupBy("component_id").agg(
        F.max("component_size").alias("n")
    )
    # replica groups may merge through base-corpus near-dups, never
    # split: minimum component size is the replica count
    assert sizes.agg(F.min("n")).collect()[0][0] >= REPLICAS
    assert sizes.count() <= 5000
    # exactly one canonical per component
    canon = clusters.filter("is_canonical").count()
    assert canon == sizes.count()


def test_knn_complete_at_scale(spark, pipeline):
    from pyspark.sql import functions as F

    _, _, knn = pipeline
    n_queries = knn.select("q_id").distinct().count()
    assert n_queries == 40 * REPLICAS  # sf0.1 has 40 query vectors
    # every query gets its full k, ranks contiguous
    per_q = knn.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rnk").alias("mx")
    )
    bad = per_q.filter((F.col("n") != F.col("mx")) | (F.col("n") < 1)).count()
    assert bad == 0


def test_candidate_partition_balance(spark, scaled_sf):
    """The banding shuffle must stay balanced on the duplicated corpus:
    no partition of the candidate-pair stream carries > 10x the
    median."""
    from pyspark.sql import functions as F

    from dbt_economic_indicators_eu_spark.operators.banding import candidate_pairs
    from dbt_economic_indicators_eu_spark.queries.datapipe import _minhash_bands

    banded = _minhash_bands(spark, scaled_sf)
    cand = candidate_pairs(banded, ["band_idx", "band_hash"], "doc_id", "a", "b")
    dist = (
        cand.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = sorted(r["count"] for r in dist)
    assert counts, "no candidate pairs emitted"
    median = counts[len(counts) // 2]
    assert counts[-1] <= 10 * max(median, 1), (
        f"hot partition: max={counts[-1]} median={median}"
    )


def test_embedding_dedup_recall_at_scale(spark, scaled_sf):
    """The ANN-dedup path gets the same measured story as minhash
    (VERDICT r5 ask #4): on the 10x-replicated embedding corpus every
    replica group is near-identical (cosine exactly 1.0), shares every
    LSH bucket in every table, and must surface ALL C(10,2) pairs —
    banding, the hot-bucket cap, and the verify join may not lose one."""
    from pyspark.sql import Observation, functions as F

    from dbt_economic_indicators_eu_spark.operators.banding import candidate_pairs
    from dbt_economic_indicators_eu_spark.queries import simsearch

    out = simsearch.q_dedup_embedding(spark, scaled_sf).localCheckpoint(eager=True)
    replica = out.filter((F.col("id_a") % OFFSET) == (F.col("id_b") % OFFSET))
    n_base = 2000  # sf0.1 embedding corpus
    expected = n_base * (REPLICAS * (REPLICAS - 1) // 2)
    assert replica.count() == expected
    # identical vectors: verified cosine must be exactly 1.0 after r6
    assert replica.filter(F.col("cosine") != 1.0).count() == 0
    # every emitted pair respects the threshold (verify join is exact)
    assert out.filter(F.col("cosine") < simsearch._DEDUP_COS_THRESHOLD).count() == 0

    # drop accounting: replication multiplies every bucket's occupancy
    # by 10 (base max ~20 per table-bucket at sf0.1 → ~200 scaled),
    # still under HOT_BUCKET_CAP — the cap must fire ZERO times here,
    # i.e. full recall above is cap-untouched, not cap-lucky
    raw = spark.read.parquet(f"{scaled_sf}/embeddings.parquet")
    banded = raw.select(
        "vec_id",
        F.posexplode(simsearch._dedup_buckets_udf()("embedding")).alias(
            "table_idx", "bucket"
        ),
    )
    obs = Observation("emb_scale")
    cand = candidate_pairs(
        banded, ["table_idx", "bucket"], "vec_id", "id_a", "id_b", observation=obs
    )
    assert cand.count() > 0
    assert obs.get["hot_buckets_dropped"] == 0
    assert obs.get["hot_ids_dropped"] == 0


def test_hot_bucket_cap_accounts_drops_at_scale(spark):
    """A degenerate 2000-member bucket (cap 1024) must be dropped with
    exact observe accounting — the quadratic guard the 100 TB posture
    depends on — while normal buckets still pair."""
    from pyspark.sql import Observation, functions as F

    from dbt_economic_indicators_eu_spark.operators.banding import candidate_pairs

    hot = spark.range(2000).select(
        F.lit(0).alias("band_idx"), F.lit("HOT").alias("band_hash"),
        F.col("id").alias("doc_id"),
    )
    normal = spark.range(4).select(
        F.lit(1).alias("band_idx"), F.lit("OK").alias("band_hash"),
        (F.col("id") + 10_000).alias("doc_id"),
    )
    obs = Observation("scale_hot")
    pairs = candidate_pairs(
        hot.union(normal), ["band_idx", "band_hash"], "doc_id", "a", "b",
        observation=obs,
    )
    got = pairs.collect()
    assert len(got) == 6  # C(4,2) from the normal bucket only
    assert all(r.a >= 10_000 for r in got)
    assert obs.get["hot_buckets_dropped"] == 1
    assert obs.get["hot_ids_dropped"] == 2000


# ---------------------------------------------------------------------------
# Python-port registry nodes at scale (VERDICT r7 ask #3): the ml.py
# twins have oracle verdicts; these smokes certify the REGISTRY path
# (models/python_ports.py) on a 30-year × many-country panel — the
# longest realistic per-country series the forecast's collect_list
# must hold (360 months ≈ a few KB per group, never the table).
# ---------------------------------------------------------------------------

PORT_MONTHS = 360  # 30 years of monthly history per country
PORT_NOW = "2025-01-01 00:00:00"


def _synth_fct(spark, n_countries: int, n_months: int = PORT_MONTHS):
    """Deterministic fct_economic_indicators panel: n_countries × 360
    months, with a spike month (anomaly path), periodic inflation nulls
    (pad-fill path), and per-country level offsets (distinct stats)."""
    from pyspark.sql import functions as F

    base = spark.range(n_countries * n_months)
    cid = (F.col("id") / n_months).cast("long")
    m = (F.col("id") % n_months).cast("int")
    date = F.add_months(F.to_date(F.lit("1995-01-01")), m)
    return base.select(
        F.concat(F.lit("k"), F.col("id")).alias("indicator_key"),
        F.concat(F.lit("C"), F.lpad(cid.cast("string"), 4, "0")).alias("country_code"),
        date.alias("reference_date"),
        F.year(date).alias("reference_year"),
        F.month(date).alias("reference_month"),
        (
            F.lit(5.0) + (m % 7) * 0.3 + (cid % 5) * 0.1
            + F.when(m == 100, 9.0).otherwise(0.0)
        ).alias("unemployment_rate_pct"),
        F.when(m % 9 == 3, None)
        .otherwise(F.lit(0.2) + ((m * 3) % 11) * 0.05)
        .alias("inflation_rate_mom_pct"),
    )


def _port_ctx(spark, n_countries: int):
    from dbt_economic_indicators_eu_spark.models.econ import build_registry

    reg = build_registry()
    return reg.context(
        spark,
        mocks={"fct_economic_indicators": _synth_fct(spark, n_countries)},
        vars={"now": PORT_NOW},
    )


def test_port_anomaly_plan_shape_at_scale(spark):
    """py_anomaly_detection through the registry must keep the plan the
    100 TB posture claims even when per-country stats grow to 500
    groups: stats joined back BROADCAST (one tiny row per country —
    never a sort-merge join against the fact), exactly two hash
    exchanges (the country window sort + the stats partial-agg), zero
    Python operators, no cartesian product."""
    ctx = _port_ctx(spark, 500)
    df = ctx.ref("py_anomaly_detection")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # every fact row survives the stats join (non-null country key)
    assert df.count() == 500 * PORT_MONTHS


def test_port_forecast_plan_and_bounded_state(spark):
    """py_unemployment_forecast through the registry: ONE groupBy
    shuffle (the per-country collect_list fold), zero Python, and the
    folded state bounded to one country's 360-month history — every
    country emits exactly its 6 horizons with a finite ensemble."""
    from pyspark.sql import functions as F

    ctx = _port_ctx(spark, 500)
    df = ctx.ref("py_unemployment_forecast")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    rows = df.groupBy("country_code").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("forecast_ensemble").alias("lo"),
    )
    bad = rows.filter((F.col("n") != 6) | F.col("lo").isNull()).count()
    assert bad == 0
    assert rows.count() == 500


# ---------------------------------------------------------------------------
# Events / streaming block at scale (VERDICT r8 ask #4): the sessionize
# window chain and the streaming drains had plan-shape pins but no
# measured at-scale data point. A 10x-replicated events corpus (10x
# users, each carrying the base corpus' full series — the realistic
# scale axis: more entities, not longer histories) certifies that the
# single-user_id-partitioning plan survives AND that wall time stays
# ~linear, for both the batch sessionize and a streaming drain.
# ---------------------------------------------------------------------------

EV_REPLICAS = 10
EV_OFFSET = 1_000_000  # user_id/event_id shift per replica
EV_BASE_USERS = 1500  # sf0.1 events spans user_id 0..1499


@pytest.fixture(scope="module")
def scaled_events(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("sf_events_scaled"))
    t = pq.read_table(f"{SRC}/events.parquet")
    parts = []
    for i in range(EV_REPLICAS):
        shifted = t
        for col in ("user_id", "event_id"):
            shifted = shifted.set_column(
                shifted.column_names.index(col),
                col,
                pc.add(shifted.column(col), i * EV_OFFSET),
            )
        parts.append(shifted)
    pq.write_table(pa.concat_tables(parts), f"{d}/events.parquet")
    return d


def test_sessionize_single_partitioning_at_scale(spark, scaled_events):
    """The gaps-and-islands chain must keep ONE user_id hash exchange
    on the 10x corpus — lag window, running-sum window, and the final
    per-session agg all reuse it (subset-clustering satisfaction); a
    second exchange here means the session agg re-shuffles 100 TB of
    events at production scale. Zero joins, zero Python operators."""
    from dbt_economic_indicators_eu_spark.queries.relational import q_sessionize

    df = q_sessionize(spark, scaled_events)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sessionize_replica_invariance_at_scale(spark, scaled_events):
    """Each replica user carries the base user's exact series, so the
    scaled output must be exactly 10x the base sessions, with every
    replica of a base user producing an identical session count — any
    divergence means the window chain mixed rows across users or lost
    boundary events under the bigger shuffle."""
    from pyspark.sql import functions as F

    from dbt_economic_indicators_eu_spark.queries.relational import q_sessionize

    base_n = q_sessionize(spark, SRC).count()
    out = q_sessionize(spark, scaled_events).localCheckpoint(eager=True)
    assert out.count() == base_n * EV_REPLICAS
    per_user = out.groupBy(
        (F.col("user_id") % EV_OFFSET).alias("base_user"),
        (F.col("user_id") / EV_OFFSET).cast("long").alias("replica"),
    ).agg(F.count(F.lit(1)).alias("n_sessions"))
    spread = per_user.groupBy("base_user").agg(
        F.countDistinct("n_sessions").alias("variants"),
        F.count(F.lit(1)).alias("reps"),
    )
    assert spread.count() == EV_BASE_USERS
    bad = spread.filter(
        (F.col("variants") != 1) | (F.col("reps") != EV_REPLICAS)
    ).count()
    assert bad == 0


def test_stream_drain_matches_batch_twin_at_scale(spark, scaled_events):
    """One full streaming drain on the 10x corpus: the windowed-counts
    pipeline (readStream -> event-time tumbling agg -> availableNow
    drain) must emit exactly the rows its own transformation produces
    in batch mode over the same data — state handling may not drop or
    double-count a row when every state key carries 10x the events."""
    from dbt_economic_indicators_eu_spark.queries.common import load
    from dbt_economic_indicators_eu_spark.queries.streamq import (
        q_stream_window_counts,
    )
    from dbt_economic_indicators_eu_spark.streaming.pipeline import windowed_counts

    drained = sorted(
        map(tuple, q_stream_window_counts(spark, scaled_events).collect())
    )
    batch = sorted(
        map(tuple, windowed_counts(load(spark, scaled_events, "events")).collect())
    )
    assert drained == batch
    assert len(drained) > 0


def test_events_block_scales_linearly(spark, scaled_events):
    """10x events must cost ~1x wall time at this size for both the
    batch sessionize and the streaming drain (both are overhead- or
    floor-dominated at sf0.1) — a quadratic regression (state re-scan
    per row, window re-sort per session) would blow the bound by
    orders of magnitude. Same generous min-of-two + floor-clamped
    envelope as the port-node smoke: plan shape is pinned by the
    sibling tests, this one only guards the wall-clock envelope."""
    import time

    from dbt_economic_indicators_eu_spark.queries.relational import q_sessionize
    from dbt_economic_indicators_eu_spark.queries.streamq import (
        q_stream_window_counts,
    )

    def run(sf_dir: str) -> float:
        t0 = time.perf_counter()
        q_sessionize(spark, sf_dir).count()
        q_stream_window_counts(spark, sf_dir).count()
        return time.perf_counter() - t0

    run(SRC)  # warm: codegen + state-store + memory-sink machinery
    t1 = min(run(SRC), run(SRC))
    t10 = min(run(scaled_events), run(scaled_events))
    assert t10 <= 20 * max(t1, 0.5) + 5.0, (
        f"10x events cost {t10:.2f}s vs {t1:.2f}s at 1x"
    )


def test_port_nodes_scale_linearly(spark):
    """10x countries (50 → 500; 18k → 180k fact rows) must cost ~1x
    wall time at this size (overhead-dominated) — a quadratic
    regression (e.g. a stats join degrading to nested-loop, or the
    fold re-materializing per row) would blow the bound by orders of
    magnitude. Generous 10x + 2s bound absorbs scheduler noise."""
    import time

    def run(n: int) -> float:
        ctx = _port_ctx(spark, n)
        t0 = time.perf_counter()
        ctx.ref("py_anomaly_detection").count()
        ctx.ref("py_unemployment_forecast").count()
        return time.perf_counter() - t0

    run(50)  # warm the session (codegen + broadcast machinery)
    # min of two draws per size + a generous bound: the signal hunted
    # here is an order-of-magnitude (quadratic) blowup, not scheduler
    # jitter on sub-second jobs — plan shape is pinned by the two
    # sibling tests, this one only guards the wall-clock envelope
    t1 = min(run(50), run(50))
    t10 = min(run(500), run(500))
    # floor-clamp the baseline: a very fast warm 1x draw must not
    # shrink the headroom below what scheduler jitter needs. The bound
    # is deliberately loose (a quadratic nested-loop on 180k rows costs
    # minutes, not 15 s) so machine contention can't flake the gate.
    assert t10 <= 20 * max(t1, 0.5) + 5.0, (
        f"10x rows cost {t10:.2f}s vs {t1:.2f}s at 1x"
    )
