#!/usr/bin/env python
"""Generate PLANS.md: annotated physical plans for the headline queries.

The scale claims in docstrings (broadcast dims, pushdown, partial
aggregation, no shingle shuffles) are pinned by tests/test_plans.py;
this artifact shows the actual optimized plans so a reviewer can read
the evidence without running anything.

    python tools/gen_plans.py [sf_dir] > /dev/null   # writes PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# (query, what to look for in the plan)
HEADLINERS = [
    (
        "annual_summary",
        "The flagship report: three broadcast dim joins (fact side never "
        "shuffles for the join), map-side partial aggregation into the "
        "(nation, year) group, then rank/share/YoY windows sharing two "
        "hash partitionings.",
    ),
    (
        "annual_agg",
        "Fact-side lineitem never shuffles for the join (both dims are "
        "BroadcastHashJoin builds); the groupBy keys are bounded "
        "(nation x year) so `partial_` markers show map-side combine "
        "collapsing the shuffle.",
    ),
    (
        "monthly_lag",
        "One Exchange on the window partition key; lag/lag12/yoy/diff "
        "all share that single partitioning — no per-function shuffle.",
    ),
    (
        "anomaly_zscore",
        "Exact quartiles via groupBy-agg + join-back (not a percentile "
        "window): the full events table hash-partitions on user_id at "
        "most twice across both branches, and the tiny stats aggregate "
        "joins back broadcast/aligned.",
    ),
    (
        "forecast_ensemble",
        "ES/Holt recursions are F.aggregate left folds over "
        "sort_array(collect_list(...)) — zero Python operators in the "
        "plan (no ArrowEvalPython/FlatMapGroupsInPandas); one shuffle "
        "on user_id.",
    ),
    (
        "dedup_minhash",
        "Band generation is one narrow JVM projection over the widened "
        "scan (shingles -> md5 prefix per shingle -> 8 array_min "
        "permutation folds -> 4 band keys -> posexplode), with no Python "
        "node; banding stays group-then-pair — one Exchange on (band_idx, band_hash), no "
        "self-join — and the verify join carries NO broadcast hint: the "
        "planner/AQE size check broadcasts the exploded candidate list "
        "only when it is actually small (as here), degrading to a "
        "shuffle join at corpus-scale candidate volumes.",
    ),
    (
        "knn_lsh",
        "Fused ANN scan: one narrow ArrowEvalPython/MapInPandas pass over "
        "the corpus (bucket mask + GEMM + local top-k) feeds a window over "
        "only the per-batch winners — no join, no CartesianProduct, and the "
        "only exchange moves k x Q rows per batch.",
    ),
    (
        "incremental_upsert",
        "Key upsert = anti-join of target against the broadcast new "
        "batch + unionByName — the big target side streams, only the "
        "delta broadcasts.",
    ),
    (
        "media_pipeline",
        "Python appears only as MapInPandas (Arrow-batched); byte-sum "
        "verification folds run JVM-side after the Python stage.",
    ),
    (
        "asof_join",
        "Nearest-prior join as union + ONE window Exchange on the key "
        "(plus the small purchase pre-agg) — no range join, no "
        "per-left-row scan of the right side; linear in |left|+|right|.",
    ),
    (
        "range_join_agg",
        "Interval containment as a BroadcastHashJoin on exploded time "
        "bins (Generate) — NOT the BroadcastNestedLoopJoin Spark plans "
        "for a raw inequality join; the exact BETWEEN filter runs "
        "inside the joined stage.",
    ),
    (
        "decontaminate",
        "Benchmark shingle set (bounded — eval suites are MBs) "
        "broadcasts into the corpus shingle stream; the corpus never "
        "shuffles FOR THE JOIN (no sort-merge anywhere). The round-"
        "robin Exchange under the shingle projection is the local "
        "unsplittable-scan widen (round 12) — at cluster scale "
        "(files >= cores) widen_narrow_scan inserts nothing.",
    ),
    (
        "corpus_curation",
        "Quality filter -> exact-dedup keep-first -> per-language "
        "report with NO join anywhere: canonical selection is a window "
        "min over the content hash, so the corpus shuffles once for "
        "the window and once (tiny) for the final group.",
    ),
    (
        "unigram_logprob",
        "Unigram LM quality scoring: token instances collapse map-side "
        "to a (doc, tok) count table whose identical subtree feeds the "
        "corpus tf aggregate, the corpus total, and the join — "
        "physical planning reuses that one exchange (ReusedExchange "
        "under AQE's runtime stage reuse), so the corpus tokenizes "
        "once per execution. Term frequency is groupBy(tok) joined "
        "back — NOT a window over tok, which would put every instance "
        "of a Zipf-hot stop-word in one partition. No hint on the "
        "vocab side: AQE broadcasts it while small and degrades to a "
        "skew-split shuffle join when a TB-corpus vocabulary outgrows "
        "the threshold.",
    ),
    (
        "schema_test_suite",
        "The whole declared test suite is ONE union of single-row "
        "count aggregates — one job, branches concurrent, and every "
        "FileScan is pruned to its own test's column (a uniqueness "
        "check never reads the wide columns).",
    ),
    (
        "tfidf_topk",
        "Document frequency is groupBy(tok) + join back over the tf "
        "table, whose two occurrences (df aggregate + join side) "
        "share ONE exchange via ReuseExchange — the corpus tokenizes "
        "once per execution, engine-native, no checkpoint. The df "
        "aggregate is map-side combinable, and no window partitions "
        "on the term — a Zipf-hot stop-word would otherwise serialize "
        "one O(n_docs) task. The only remaining window is the per-doc "
        "top-k.",
    ),
    (
        "paragraph_dedup",
        "Only 16-byte md5 hashes shuffle — the paragraph text stays in "
        "the scan stage. Pre-grouped (h, doc) pairs get cross-doc "
        "multiplicity from a window over h; no join anywhere.",
    ),
    (
        "bloom_decontaminate",
        "The 2^16-bit bloom bitmask is built with a bit_or aggregate "
        "and folded into ONE word -> mask map row, which the corpus "
        "shingle stream meets on a single BroadcastNestedLoopJoin "
        "(Cross, 1-row build side); two map lookups test the probe "
        "bits, and the survivors exact-confirm against the bounded "
        "benchmark set through a BroadcastHashJoin. The corpus never "
        "sort-merges; the result is exact (oracle = plain join).",
    ),
    (
        "kmeans_refine",
        "Seed centroids are plan literals, so assignment (K fold "
        "distances + argmin per row) is a pure projection with zero "
        "joins/exchanges; only the (cluster, dim) update agg and the "
        "per-cluster rollup shuffle — both invariant in corpus size "
        "after partial aggregation.",
    ),
]

STORAGE = [
    (
        "bucketed_join",
        "Both scans carry SelectedBucketsCount and the SortMergeJoin has "
        "NO Exchange on either side: the join is co-located by layout.",
    ),
    (
        "partition_pruned",
        "The date filter appears under PartitionFilters — Spark lists "
        "one day's directory; PushedFilters/ReadSchema show column "
        "pruning too.",
    ),
    (
        "zorder_layout",
        "The Morton interleave is a pure integer projection (no "
        "Exchange before the bounded block groupBy with partial_ "
        "markers); the write-side use puts the same z expression into "
        "repartitionByRange so each file covers one (custkey, date) "
        "tile — min/max skipping then works on BOTH columns.",
    ),
    (
        "targeted_delete",
        "Read-back of the purged table: the rewrite itself read only "
        "the delete window (PartitionFilters on event_date) and "
        "dynamic partition overwrite replaced only those directories — "
        "untouched partitions bit-identical (pinned by "
        "test_storage_maintenance).",
    ),
    (
        "compact_files",
        "Read-back of the compacted copy: compaction used coalesce "
        "(partition merge, NO shuffle) with the output file count "
        "derived from actual input bytes — the cheapest possible "
        "rewrite of ingest debris.",
    ),
    (
        "schema_evolve_read",
        "mergeSchema scan over pre/post-evolution batches: one unified "
        "FileScan whose ReadSchema is the union; legacy rows surface "
        "NULLs for the appended columns JVM-side.",
    ),
]


# Registry Python-model ports (models/python_ports.py): plans shown the
# way the real `run` executes them — refs resolved to STORED parquet
# relations, not the inlined upstream DAG. Shape pinned by
# tests/test_python_ports.py::test_ports_plan_shape_on_stored_relations.
PYTHON_PORTS = [
    (
        "py_anomaly_detection",
        "One fact scan per branch: country-partitioned windows (pad-fill "
        "+ lag for pct_change) on one side, the per-country stats "
        "groupBy (map-side partial agg) on the other, joined back "
        "broadcast — never a sort-merge join, no percentile windows "
        "buffering whole partitions.",
    ),
    (
        "py_unemployment_forecast",
        "ES/Holt/OLS recursions as F.aggregate left folds over "
        "sort_array(collect_list(...)) — zero Python operators (no "
        "ArrowEvalPython/FlatMapGroupsInPandas); ONE shuffle on "
        "country_code; collect_list holds one country's monthly "
        "history, never the table.",
    ),
    (
        "py_data_quality_scores",
        "Country window for consecutive-value diffs feeds the single "
        "per-country groupBy, which reuses the window's "
        "hashpartitioning(country_code) — one shuffle total.",
    ),
]


def _python_port_frames(spark, tmp_dir):
    """Stored-relation mocks for the ports: tiny parquet relations with
    the fact/report columns the ports read, so the emitted plan is the
    real run's shape (FileScan parquet + the port's own operators)."""
    import datetime as dt
    import os as _os

    fct = spark.createDataFrame(
        [
            (
                f"k{i}", "DE", dt.date(2023, 1 + i % 12, 1), 2023, 1 + i % 12,
                5.0 + i % 3, 0.2 if i % 2 else None,
            )
            for i in range(24)
        ],
        "indicator_key string, country_code string, reference_date date, "
        "reference_year int, reference_month int, "
        "unemployment_rate_pct double, inflation_rate_mom_pct double",
    )
    rpt = spark.createDataFrame([("DE", 2023)], "country_code string, reference_year int")
    paths = {}
    for name, df in (("fct_economic_indicators", fct), ("rpt_annual_economic_summary", rpt)):
        p = _os.path.join(tmp_dir, name)
        df.write.mode("overwrite").parquet(p)
        paths[name] = spark.read.parquet(p)
    return paths


def _explain(spark, df) -> str:
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("gen-plans")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from dbt_economic_indicators_eu_spark.queries.common import all_queries

    qs = all_queries()
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/gen_plans.py` at `{sf_dir}` (plan shape is",
        "scale-invariant for these queries; AQE may further coalesce",
        "partitions at runtime). The properties called out per query are",
        "enforced by `tests/test_plans.py`.",
        "",
    ]
    for name, note in HEADLINERS + STORAGE:
        df = qs[name].builder(spark, sf_dir)
        plan = _explain(spark, df)
        # the operator tree + node details, capped — but NEVER cut the
        # scan-evidence lines (PushedFilters / PartitionFilters /
        # SelectedBucketsCount / ReadSchema): those are the properties
        # the per-plan notes tell a reviewer to verify, and in
        # formatted explain output they come AFTER the tree, exactly
        # where a blunt prefix cut would land
        lines = plan.rstrip().splitlines()
        cap = 200
        if len(lines) > cap:
            evidence = [
                ln
                for ln in lines[cap:]
                if any(
                    k in ln
                    for k in (
                        "PushedFilters", "PartitionFilters",
                        "SelectedBucketsCount", "ReadSchema",
                    )
                )
            ]
            lines = (
                lines[:cap]
                + [f"... ({len(lines) - cap} more lines; scan evidence kept below)"]
                + evidence
            )
        out += [f"## {name}", "", note, "", "```", *lines, "```", ""]

    # registry Python-model ports against stored-relation mocks
    import tempfile

    from dbt_economic_indicators_eu_spark.models.econ import build_registry

    out += [
        "# Registry Python-model ports",
        "",
        "Plans as the real `run` executes them: refs resolve to STORED",
        "parquet relations (mocked here with the fact columns the ports",
        "read), not the inlined upstream DAG. Shape pinned by",
        "`tests/test_python_ports.py`.",
        "",
    ]
    with tempfile.TemporaryDirectory() as tmp:
        mocks = _python_port_frames(spark, tmp)
        ctx = build_registry().context(
            spark, mocks=mocks, vars={"now": "2025-01-01 00:00:00"}
        )
        for name, note in PYTHON_PORTS:
            plan = _explain(spark, ctx.ref(name))
            out += [f"## {name}", "", note, "", "```", *plan.rstrip().splitlines(), "```", ""]

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS + STORAGE) + len(PYTHON_PORTS)} plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
