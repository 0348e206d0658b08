"""Physical-plan regression tests: the scale properties the docstrings
claim must actually appear in the optimized plans — broadcast joins for
dims, filter/column pushdown into the parquet scan, map-side partial
aggregation, and no cartesian products or row-at-a-time Python UDFs
anywhere in the batch surface.
"""

from __future__ import annotations

import pytest

from dbt_economic_indicators_eu_spark.queries.common import all_queries

SF_DIR = "/root/testdata/sf0.001"

# streaming queries execute eagerly (drain a stream) and engine queries
# with filesystem side effects don't belong in a plan sweep
_PLAN_EXEMPT = {
    "stream_window_counts",
    "stream_sessionize",
    "stream_stateful_totals",
    "stream_incremental",
    "stream_dedup",
    "stream_join",
    "stream_enrich",
    "rest_ingest",
    "bucketed_join",
    "partition_pruned",
    "targeted_delete",
    "compact_files",
    "schema_evolve_read",
    "dedup_cluster",  # Pregel-style: executes iterations at build time
}


def _plan(spark, name: str) -> str:
    df = all_queries()[name].builder(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_staging_projection_pushdown(spark):
    plan = _plan(spark, "staging_projection")
    assert "PushedFilters: [IsNotNull" in plan
    # column pruning: o_comment-sized strings never leave the scan
    assert "ReadSchema" in plan and "l_comment" not in plan


def test_dim_joins_broadcast_not_sortmerge(spark):
    for q in ("left_join_enrich", "region_share", "annual_agg", "latest_per_entity"):
        plan = _plan(spark, q)
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_annual_agg_partial_aggregation(spark):
    # partial_sum markers → map-side combine before the exchange
    plan = _plan(spark, "annual_agg")
    assert "partial_" in plan


def test_no_cartesian_products(spark):
    for name in sorted(set(all_queries()) - _PLAN_EXEMPT):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_no_python_row_udfs(spark):
    """BatchEvalPython = row-at-a-time Python UDF (the slow path).
    Arrow-batched plans (ArrowEvalPython / FlatMapGroupsInPandas /
    MapInPandas) are the sanctioned Python escape hatches."""
    for name in sorted(set(all_queries()) - _PLAN_EXEMPT):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, name


def test_shingle_hash_queries_have_no_python_nodes(spark):
    """fingerprint, simhash and dedup_minhash shingle, hash and band
    with Spark built-ins over the one JVM tokenizer: no Python worker
    node of any kind in the optimized or the physical plan."""
    for name in ("fingerprint", "simhash", "dedup_minhash"):
        qe = all_queries()[name].builder(spark, SF_DIR)._jdf.queryExecution()
        for plan in (qe.optimizedPlan().toString(), qe.executedPlan().toString()):
            for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
                assert node not in plan, (name, node)


def test_anomaly_zscore_single_fact_shuffle(spark):
    """The fact table shuffles once (window partitioning reused by the
    stats join) — no second full-data exchange."""
    plan = _plan(spark, "anomaly_zscore")
    # the stats side may exchange (tiny aggregate); the events scan must
    # appear exactly twice (once per branch) but hashpartitioning on
    # user_id must be the only full-row distribution
    assert plan.count("Exchange hashpartitioning(user_id") <= 2
    # the stats join must be broadcast, full stop: an or-clause here
    # would let a sort-merge regression pass whenever ANY broadcast
    # join exists elsewhere in the plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_no_exchange(spark):
    """Bucketed scans co-locate the join: the SortMergeJoin must have
    NO Exchange on either side (SelectedBucketsCount appears instead)."""
    from dbt_economic_indicators_eu_spark.queries.storage import q_bucketed_join

    df = q_bucketed_join(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(o_custkey" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan
    assert "SelectedBucketsCount" in plan


def test_partition_pruning_reaches_scan(spark):
    from dbt_economic_indicators_eu_spark.queries.storage import q_partition_pruned

    df = q_partition_pruned(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters", 1)[1][:200]


def test_dedup_exact_single_scan_one_shuffle(spark):
    """The deterministic replica leg must ride the ONE documents scan
    (exploded offset array), never a self-union's second scan — a
    modulo predicate is not min/max-prunable, so a union branch would
    re-read the full table at 100 TB. Shape: scan → generate →
    map-side partial agg → exactly one exchange."""
    plan = _plan(spark, "dedup_exact")
    assert plan.count("Scan parquet") == 1
    assert "Generate" in plan and "Union" not in plan
    assert plan.count("Exchange") == 1


def test_minhash_no_shuffle_of_shingles(spark):
    """Verify joins take broadcast candidates at this scale (planner
    size estimate, no explicit hint); the shingle table must not
    sort-merge (which would shuffle the heavy arrays)."""
    plan = _plan(spark, "dedup_minhash")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_verify_join_size_conditional(spark):
    """The dedup verify joins carry NO hard-coded F.broadcast hint:
    candidate volume grows with the corpus, so the plan must be
    size-conditional. Small candidates → broadcast (planner estimate /
    AQE runtime conversion); candidates over the broadcast threshold
    (forced here via -1 thresholds) → the SAME query degrades to a
    shuffle join with identical results, instead of an executor OOM."""
    from dbt_economic_indicators_eu_spark.queries.datapipe import q_dedup_minhash
    from dbt_economic_indicators_eu_spark.queries.simsearch import q_dedup_embedding

    static_key = "spark.sql.autoBroadcastJoinThreshold"
    adaptive_key = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    prev = spark.conf.get(static_key)
    for builder in (q_dedup_minhash, q_dedup_embedding):
        base = sorted(map(tuple, builder(spark, SF_DIR).collect()))
        try:
            spark.conf.set(static_key, "-1")
            spark.conf.set(adaptive_key, "-1")
            df = builder(spark, SF_DIR)
            rows = sorted(map(tuple, df.collect()))
            final = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(static_key, prev)
            spark.conf.unset(adaptive_key)
        assert "BroadcastHashJoin" not in final, builder.__name__
        assert "SortMergeJoin" in final or "ShuffledHashJoin" in final, builder.__name__
        assert rows == base, builder.__name__


def test_asof_join_is_window_not_range_join(spark):
    """The as-of operator must plan as union + window — one full-data
    hash exchange on the key — never as a join of left against right
    (no join operator over the unioned stream at all)."""
    plan = _plan(spark, "asof_join")
    assert "Window" in plan and "Union" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2  # window + pre-agg


def test_range_join_binned_equi_not_nested_loop(spark):
    """Interval containment must ride the exploded-bin equi-join
    (BroadcastHashJoin over Generate), not the BroadcastNestedLoopJoin
    Spark plans for raw inequality joins."""
    plan = _plan(spark, "range_join_agg")
    assert "BroadcastHashJoin" in plan
    assert "Generate explode" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark shingle set (bounded: eval suites are MBs) must
    broadcast; the corpus shingle stream must never sort-merge."""
    plan = _plan(spark, "decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corpus_curation_single_window_no_self_join(spark):
    """Canonical-row selection is a window min over the content hash —
    the funnel must contain NO join (a groupBy+join-back would shuffle
    the corpus twice)."""
    plan = _plan(spark, "corpus_curation")
    assert "Window" in plan
    assert "Join" not in plan


def test_pii_redact_is_pure_projection(spark):
    """Detection + redaction is a projection — no shuffle on any KEY.
    The only Exchange permitted is the round-robin compute widener
    (common.widen_narrow_scan), which fires solely when the scan has
    fewer input files than cores (the tiny-SF single-file artifact)
    and is a no-op on real multi-split tables."""
    plan = _plan(spark, "pii_redact")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_training_shuffle_single_exchange(spark):
    """Shard manifest = one hash Exchange on the shard key shared by
    the row_number window and the final aggregate."""
    plan = _plan(spark, "training_shuffle")
    assert plan.count("Exchange hashpartitioning") <= 2  # window + final agg reuse


def test_tfidf_no_hot_term_window(spark):
    """Document frequency must be groupBy(tok) + join back — NOT
    count().over(Window.partitionBy(tok)): a Zipf-hot term would put
    every (doc, term) row for that term in one window partition (one
    O(n_docs) task at 100×). The only Window left is the per-doc
    top-k, and the tf subtree's two occurrences (df aggregate + join
    side) share ONE exchange via ReuseExchange — the corpus tokenizes
    once per execution with no checkpoint/persist."""
    plan = _plan(spark, "tfidf_topk")
    # no window partitioned on the term — doc_id top-k only
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "doc_id" in line and "tok" not in line.split("windowspecdefinition")[1].split(",")[0], line
    assert "partial_count" in plan  # df groupBy map-side combine
    assert _reuses_exchange(spark, "tfidf_topk")  # tf subtree deduped


def _reuses_exchange(spark, name: str) -> bool:
    """Static-planner view of exchange reuse: under AQE the pre-run
    plan string hides it (isFinalPlan=false; reuse happens per query
    stage at runtime), so plan the query once with AQE off — same
    Catalyst tree, explicit ReusedExchange nodes. Raw builder, not the
    plan cache: the cached frame was planned under the session conf."""
    raw = {}
    from dbt_economic_indicators_eu_spark.queries import corpus, curation

    for mod in (corpus, curation):
        for q in mod.QUERIES:
            raw[q.name] = q.builder
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = raw[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return "ReusedExchange" in plan


def test_unigram_shares_one_tokenize_exchange(spark):
    """All three consumers of the (doc, tok) partial-agg table (corpus
    tf, corpus total, join side) must resolve to a reused exchange —
    and no window partitioned on the term (the Zipf-hot-term trap)."""
    plan = _plan(spark, "unigram_logprob")
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            raise AssertionError(f"unexpected window in unigram plan: {line}")
    assert _reuses_exchange(spark, "unigram_logprob")


def test_paragraph_dedup_hash_only_shuffles_no_join(spark):
    """Cross-doc multiplicity is a window over the paragraph hash —
    no join anywhere (a join-back would re-run the explode subtree),
    and only (h, doc) pre-grouped pairs shuffle."""
    plan = _plan(spark, "paragraph_dedup")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_bloom_decontaminate_broadcast_only_on_corpus_path(spark):
    """The corpus side must meet only broadcasts — a sort-merge join
    would shuffle the whole corpus shingle stream. Round-13 shape: the
    16KB bitmask folds into ONE row (word → mask map) attached via a
    single broadcast nested-loop join (1-row build side), then the
    bounded exact-confirm set joins as a broadcast hash join."""
    plan = _plan(spark, "bloom_decontaminate")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 1  # exact-confirm
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row bitmask
    assert plan.count("BroadcastExchange") <= 2


def test_kmeans_assignment_is_pure_projection(spark):
    """Seed centroids ride the plan as literals, so assignment adds no
    join and no shuffle; the only exchanges are the (cluster, dim)
    update agg and the per-cluster rollup."""
    plan = _plan(spark, "kmeans_refine")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_event_transitions_single_user_partitioning(spark):
    """lag runs in one user_id window partitioning; the transition
    matrix agg and per-prev share window add at most two more small
    exchanges (5x5 matrix)."""
    plan = _plan(spark, "event_transitions")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_temperature_resample_broadcast_rates(spark):
    """Per-language thresholds (5 rows) must broadcast back onto the
    corpus — never a sort-merge join on lang."""
    plan = _plan(spark, "temperature_resample")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_salted_join_is_shuffled_hash_on_salted_keys(spark):
    """The forced salted path: a ShuffledHashJoin whose keys include
    the salt (each hot key fans out over _JOIN_SALT reducers), and no
    broadcast of the replicated dim — that would defeat the pattern
    the operator demonstrates."""
    plan = _plan(spark, "salted_join")
    assert "ShuffledHashJoin" in plan and "salt" in plan
    assert "BroadcastHashJoin" not in plan


def test_table_profile_single_scan(spark):
    """All per-column metrics come from ONE scan of orders: exactly one
    FileScan in the plan, and the only shuffles belong to the expand +
    two-phase distinct aggregation."""
    plan = _plan(spark, "table_profile")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan  # multi-count_distinct rewrite
