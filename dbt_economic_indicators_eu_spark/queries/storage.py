"""Storage-layout operator demos: the two physical-design levers that
matter most at 100 TB — bucketing (co-located joins, no shuffle) and
partitioned layout (partition pruning at the scan).

The reference runs on a single DuckDB file and has no notion of either;
these are the Spark-side capabilities a user migrating to cluster scale
gains. Both queries WRITE a laid-out copy of the synthetic data to a
temp location, then run the read-side plan whose shape the plan tests
assert (no Exchange before the bucketed join; PartitionFilters on the
pruned scan) — the oracle verifies the answers are layout-invariant.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import EVENTS_NORM_SQL, QueryDef, load, r2, session_scratch

_N_BUCKETS = 8

# Physical layout is a write-once property of the table, not part of
# the query: bucket/partition the data the first time a (session,
# sf_dir) pair asks for it (``session_scratch(spark, (kind, sf_dir),
# build)``), then every subsequent query — including benchmark
# repetitions — measures only the read-side plan the layout exists to
# enable. This mirrors production, where the laid-out table is built
# by the ingest job and joined/pruned thousands of times.


def _hive_unescape(name: str) -> str:
    """Inverse of Spark's ExternalCatalogUtils.escapePathName: %XX
    escapes in 'col=value' partition directory names back to the raw
    value. Unescaping is total (any %XX), so matching on the unescaped
    side avoids replicating Spark's exact escape character set."""
    import re as _re

    return _re.sub(
        "%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), name
    )


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket both join sides on the key → SortMergeJoin with ZERO
    exchanges: each bucket pair joins in place. At 100 TB this is the
    difference between shuffling the fact table per join and never
    shuffling it — bucket once at write time, join forever for free.
    (Broadcast is disabled for the join via hint-free bucketing only if
    the dim is large; here the plan test asserts no Exchange, which
    holds for bucketed scans regardless.)"""
    # table names carry the sf tag PLUS a hash of the FULL sf_dir: the
    # layout cache keys the full path, so two distinct dirs sharing a
    # basename (e.g. a tmp-dir mutated-fixture copy also named sf0.001)
    # must not alias each other's catalog tables — a basename-only tag
    # would let the second dir's saveAsTable(overwrite) rebind the
    # first dir's cached table to foreign data
    full = sf_dir.rstrip("/")
    suffix = hashlib.md5(full.encode()).hexdigest()[:8]
    tag = "".join(c if c.isalnum() else "_" for c in full.rsplit("/", 1)[-1]) + "_" + suffix
    orders_tbl, cust_tbl = f"orders_bucketed_{tag}", f"customer_bucketed_{tag}"
    def build(base: str) -> None:
        orders = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

        # overwrite keeps reruns idempotent if the cache is cold twice
        (
            orders.write.mode("overwrite")
            .option("path", f"{base}/orders_b")
            .bucketBy(_N_BUCKETS, "o_custkey")
            .sortBy("o_custkey")
            .saveAsTable(orders_tbl)
        )
        (
            cust.write.mode("overwrite")
            .option("path", f"{base}/cust_b")
            .bucketBy(_N_BUCKETS, "c_custkey")
            .sortBy("c_custkey")
            .saveAsTable(cust_tbl)
        )

    session_scratch(spark, ("bucketed", sf_dir), build)
    ob = spark.table(orders_tbl)
    cb = spark.table(cust_tbl)
    joined = ob.join(cb.hint("merge"), ob.o_custkey == cb.c_custkey)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        r2(F.sum("o_totalprice")).alias("total_price"),
    )


ORACLE_BUCKETED_JOIN = """
SELECT
  c.c_mktsegment AS segment,
  count(*) AS n_orders,
  round(sum(o.o_totalprice), 2) AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
"""


_PRUNE_DATE = "2024-01-15"


def q_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by event_date, read back ONE day: the
    date filter becomes a PartitionFilter — Spark lists only that
    day's directory and never opens the rest. The layout is the 100 TB
    answer to 'incremental models re-read history': time-partition the
    target and every watermark filter prunes to the new partitions."""
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    base = session_scratch(
        spark, ("partitioned", sf_dir),
        lambda base: ev.write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(f"{base}/events_p"),
    )

    # explicit schema (the catalog schema in production): an EMPTY
    # source writes no partition directories, so inference would fail
    back = spark.read.schema(ev.schema).parquet(f"{base}/events_p")
    day = back.filter(F.col("event_date") == F.lit(_PRUNE_DATE).cast("date"))
    return day.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        r2(F.sum("value")).alias("total_value"),
    )


ORACLE_PARTITION_PRUNED = f"""
SELECT
  event_type,
  count(*) AS n_events,
  round(sum(value), 2) AS total_value
FROM {EVENTS_NORM_SQL} e
WHERE CAST(ts AS DATE) = DATE '{_PRUNE_DATE}'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q_targeted_delete — EXT-DELETE-TARGETED: partition-scoped targeted
# deletion — the right-to-be-forgotten / retention-enforcement
# operation ("purge these users' rows from this date range"). The
# delete window appears in the partition column, so the rewrite reads
# ONLY the affected date partitions (PartitionFilters pruning) and
# dynamic partition overwrite replaces ONLY those directories —
# untouched partitions' files stay bit-identical (pinned by test).
# At 100 TB a GDPR purge over a 30-day window costs O(window), not
# O(table) — same posture as the partition-scoped incremental merge
# (materialize/incremental.py).
# --------------------------------------------------------------------------

_DEL_START, _DEL_END = "2024-01-10", "2024-01-14"
_DEL_USER_MOD = 53


def delete_where_partition_scoped(
    spark: SparkSession,
    path: str,
    window,
    row_pred,
    schema=None,
    partition_col: str = "event_date",
) -> None:
    """Rewrite only the partitions selected by ``window`` (a predicate
    on ``partition_col``), dropping rows matching ``row_pred``.
    ``window`` must reference ONLY partition columns — that is what
    makes the read prune and the overwrite partition-scoped.
    ``schema`` (the catalog schema in production) makes the read total
    on an empty target — inference has no footer to read there.

    Fully-purged partitions: dynamic overwrite only replaces
    partitions PRESENT in the output, so a partition whose every row
    matches the delete predicate would otherwise survive untouched —
    the silent-no-op failure mode of a purge, hit exactly when
    deletion demand is highest. The window partitions that produced
    zero surviving rows are therefore dropped explicitly (the
    directory removal a transactional format expresses as a DELETE
    commit; both partition lists are tiny driver artifacts bounded by
    the delete window).

    NULL-predicate rows: SQL/Delta DELETE removes only rows where the
    predicate is definitely TRUE; a NULL predicate (e.g. NULL user_id
    in the delete window) keeps the row. ``filter(~row_pred)`` alone
    would silently drop those rows too — over-deletion, the worst
    failure mode for a GDPR purge — so survivors are computed as
    "NOT definitely deleted": ``~row_pred | row_pred.isNull()``."""
    import shutil as _shutil
    import os as _os

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        reader = spark.read if schema is None else spark.read.schema(schema)
        tgt = reader.parquet(path)
        win = tgt.filter(window)
        keep_cond = ~row_pred | row_pred.isNull()
        # ONE aggregation pass yields both the affected-partition list
        # and the zero-survivor set (previously two separate distinct()
        # scans of the window — at the documented 100 TB / 30-day
        # posture, a whole extra read of every affected partition)
        kept_alias, str_alias = "__kept", "__str"
        while kept_alias == partition_col:
            kept_alias = "_" + kept_alias
        while str_alias == partition_col:
            str_alias = "_" + str_alias
        # The string leg rides the SAME one-pass agg: Spark renders the
        # on-disk 'col=value' directory by casting the partition value
        # to string (then %XX-escaping), so matching against Spark's
        # own cast — not Python str() — is what guarantees directory
        # parity for every partitionable type. str(datetime) and the
        # cast disagree on fraction trimming (Python prints '.500000',
        # Spark trims to '.5'), so a Python-rendered timestamp value
        # could silently leave a fully-purged partition on disk.
        part_stats = (
            win.groupBy(partition_col)
            .agg(
                F.sum(F.when(keep_cond, 1).otherwise(0)).alias(kept_alias),
                F.first(F.col(partition_col).cast("string")).alias(str_alias),
            )
            .collect()
        )
        in_window = [r[0] for r in part_stats]
        surviving = {r[0] for r in part_stats if r[kept_alias] > 0}
        win.filter(keep_cond).write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(path)
        # Drop fully-purged partitions by matching the ACTUAL on-disk
        # directory names: Spark %XX-escapes special characters
        # ('/', ':', '=', '%', '#', ...) when writing 'col=value'
        # directories, so constructing the name from the raw Python
        # value silently MISSES any escapable value (timestamps carry
        # ':', free-text keys anything) — the purge would no-op exactly
        # where it matters. Unescape the directory side instead; the
        # value side is Spark's own cast-to-string collected above.
        purged = {
            r[str_alias]
            for r in part_stats
            if r[0] is not None and r[0] not in surviving
        }
        drop_null = any(v is None for v in in_window) and not any(
            v is None for v in surviving
        )
        prefix = f"{partition_col}="
        for entry in _os.listdir(path):
            if not entry.startswith(prefix):
                continue
            raw = entry[len(prefix):]
            full = _os.path.join(path, entry)
            if not _os.path.isdir(full):
                continue
            if raw == "__HIVE_DEFAULT_PARTITION__":
                if drop_null:
                    _shutil.rmtree(full)
            elif _hive_unescape(raw) in purged:
                _shutil.rmtree(full)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def q_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))

    def build(base: str) -> None:
        ev.write.mode("overwrite").partitionBy("event_date").parquet(f"{base}/events_d")
        delete_where_partition_scoped(
            spark,
            f"{base}/events_d",
            F.col("event_date").between(_DEL_START, _DEL_END),
            F.col("user_id") % _DEL_USER_MOD == 0,
            schema=ev.schema,
        )

    base = session_scratch(spark, ("delete_target", sf_dir), build)
    # explicit schema (the catalog schema in production): an EMPTY
    # source writes no partition directories, so inference would fail
    back = spark.read.schema(ev.schema).parquet(f"{base}/events_d")
    return back.groupBy("event_date").agg(
        F.count(F.lit(1)).alias("n_events"),
        r2(F.sum("value")).alias("total_value"),
    )


ORACLE_TARGETED_DELETE = f"""
SELECT CAST(ts AS DATE) AS event_date,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM {EVENTS_NORM_SQL} e
WHERE (user_id % {_DEL_USER_MOD} = 0
       AND CAST(ts AS DATE) BETWEEN DATE '{_DEL_START}' AND DATE '{_DEL_END}')
      IS NOT TRUE
GROUP BY 1
"""


_ESC_DEL_DAY = "2024-01-12"


def q_purge_escaped_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gate twin for the %XX-ESCAPED fully-purged-partition path.

    ``q_targeted_delete`` partitions by a DATE, whose directory names
    never escape — the r9 escaped-purge bug (a fully-purged ``a:b``
    partition silently left on disk because the match probed the
    unescaped name) sat invisible to the gate for eight rounds. Here
    the partition key ``type_day`` = ``event_type || ':' || day`` is a
    STRING that always embeds ``:``, so EVERY on-disk directory is
    %XX-escaped and the purge (one whole day across all types, i.e.
    every in-window partition fully purged) drives the escaped-rmtree
    path on every corpus — and under the hostile-keys regime the
    event_type leg additionally carries ``/ = % #`` and non-ASCII-
    adjacent digit runs. Both legs are NULL-proofed with a sentinel so
    the key is total under the null regime (a NULL key would land in
    the Hive default dir and dodge the escaping this query exists to
    exercise)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "type_day",
        F.concat(
            F.coalesce(F.col("event_type"), F.lit("~null~")),
            F.lit(":"),
            F.coalesce(F.to_date("ts").cast("string"), F.lit("~null~")),
        ),
    )

    def build(base: str) -> None:
        ev.write.mode("overwrite").partitionBy("type_day").parquet(
            f"{base}/events_td"
        )
        delete_where_partition_scoped(
            spark,
            f"{base}/events_td",
            F.col("type_day").endswith(f":{_ESC_DEL_DAY}"),
            F.lit(True),
            schema=ev.schema,
            partition_col="type_day",
        )

    base = session_scratch(spark, ("purge_escaped", sf_dir), build)
    back = spark.read.schema(ev.schema).parquet(f"{base}/events_td")
    return back.groupBy("type_day").agg(
        F.count(F.lit(1)).alias("n_events"),
        r2(F.sum("value")).alias("total_value"),
    )


ORACLE_PURGE_ESCAPED_PARTITIONS = f"""
WITH e AS (
  SELECT coalesce(event_type, '~null~') || ':' ||
         coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), '~null~') AS type_day,
         value
  FROM {EVENTS_NORM_SQL} ev
)
SELECT type_day,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM e
WHERE NOT ends_with(type_day, ':{_ESC_DEL_DAY}')
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q_compact_files — EXT-COMPACT: small-file compaction (the OPTIMIZE /
# bin-packing maintenance job). Streaming ingest and over-parallel
# writers leave thousands of KB-scale files; every later scan pays a
# footer read + task per file. Compaction sizes the output from the
# actual input bytes (ceil(bytes / target)) and rewrites via
# ``coalesce`` — NO shuffle: partitions merge in place, the cheapest
# possible rewrite. Content is provably unchanged (oracle verifies the
# aggregate over the compacted copy; the file-count drop is pinned by
# test).
# --------------------------------------------------------------------------

_SMALL_FILES = 64
_COMPACT_TARGET_BYTES = 4 << 20  # demo target; 128 MiB-1 GiB in production


def compact_parquet(
    spark: SparkSession, src: str, dst: str, target_bytes: int, schema=None
) -> int:
    """Coalesce ``src``'s parquet files into ceil(bytes/target) files
    at ``dst``; returns the output file count. Driver-side listing is
    metadata-only — the same planning step a production OPTIMIZE does.
    ``schema`` (the catalog schema in production) makes the read total
    on an empty source — no footers to infer from there."""
    import glob as _glob
    import math as _math
    import os as _os

    total = sum(
        _os.path.getsize(p) for p in _glob.glob(f"{src}/*.parquet")
    )
    n = max(1, _math.ceil(total / target_bytes))
    reader = spark.read if schema is None else spark.read.schema(schema)
    reader.parquet(src).coalesce(n).write.mode("overwrite").parquet(dst)
    return n


def q_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")

    def build(base: str) -> None:
        # simulate ingest debris: one file per writer task
        ev.repartition(_SMALL_FILES).write.mode("overwrite").parquet(f"{base}/small")
        compact_parquet(
            spark, f"{base}/small", f"{base}/compacted",
            _COMPACT_TARGET_BYTES, schema=ev.schema,
        )

    base = session_scratch(spark, ("compacted", sf_dir), build)
    # explicit schema: an empty source leaves no footers to infer from
    back = spark.read.schema(ev.schema).parquet(f"{base}/compacted")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
        r2(F.sum("value")).alias("total_value"),
    )


ORACLE_COMPACT_FILES = f"""
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(sum(value), 2) AS total_value
FROM {EVENTS_NORM_SQL} e
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q_schema_evolve_read — EXT-SCHEMA-EVOLVE: schema-evolution reads —
# an old batch written before two columns existed and a new batch with
# them, scanned as ONE table (``mergeSchema``): the unified schema is
# the union, old rows surface NULLs for the new columns. This is the
# read-side half of ``on_schema_change='append_new_columns'`` (the
# write-side half lives in merge_upsert's unionByName). Footer
# reconciliation is a one-time planning cost; the scan itself stays a
# plain columnar read at any scale.
# --------------------------------------------------------------------------


def q_schema_evolve_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    evolved = ev.select("event_id", "ts", "user_id", "value", "event_type", "props")

    def build(base: str) -> None:
        old = ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "ts", "user_id", "value"
        )
        new = ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "ts", "user_id", "value", "event_type", "props"
        )
        old.write.mode("overwrite").parquet(f"{base}/t/batch=1")
        new.write.mode("overwrite").parquet(f"{base}/t/batch=2")

    base = session_scratch(spark, ("evolved", sf_dir), build)
    # The union schema stated explicitly (the catalog schema in
    # production): footer-merging alone crashes on an EMPTY source
    # (no footers to merge — the guard the sibling layout queries
    # already carry), and the explicit schema reads old-batch files
    # missing the evolved columns as NULLs, exactly the mergeSchema
    # result. `batch` resolves from the partition directory names.
    from pyspark.sql.types import IntegerType, StructField

    union_schema = evolved.schema.add(StructField("batch", IntegerType()))
    back = spark.read.schema(union_schema).parquet(f"{base}/t")
    # label by the BATCH partition, not coalesce: a legacy row's
    # missing column and an evolved row's genuine NULL are different
    # things — coalescing would silently merge them into one group
    return back.groupBy(
        F.when(F.col("batch") == 1, F.lit("__legacy__"))
        .otherwise(F.col("event_type"))
        .alias("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        r2(F.sum("value")).alias("total_value"),
    )


ORACLE_SCHEMA_EVOLVE_READ = f"""
SELECT CASE WHEN event_id % 2 = 1 THEN event_type ELSE '__legacy__' END
         AS event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM {EVENTS_NORM_SQL} e
GROUP BY 1
"""


# --------------------------------------------------------------------------
# q_zorder_layout — EXT-LAYOUT-ZORDER: Z-order (Morton) interleaving of
# two scan dimensions, the data-clustering layout that makes parquet
# min/max skipping effective on BOTH columns at once (a 1-D sort gives
# perfect skipping on its key and none on anything else). The z-value
# here interleaves 8 bits of customer key with 8 bits of order date;
# at write time it becomes the repartitionByRange/sortWithinPartitions
# key, so every file covers a small tile in (custkey, date) space.
#
# The query reports per-256-z-value block (one "file" worth) the row
# count and BOTH dimension spans — the clustering evidence: a block is
# a 16x16 tile, so each span is <= 15, vs 255 for the non-sorted
# dimension of a 1-D layout (pinned by test).
#
# Cross-engine parity: the interleave is unrolled integer bit
# arithmetic (shift/and/or have identical semantics on BIGINT in both
# engines) — everything is integer-exact.
#
# Scale shape: pure projection + one map-side-combinable groupBy on
# the bounded block key. The write-side analogue adds one range
# exchange on z — the same single shuffle any sorted layout pays.
# --------------------------------------------------------------------------

_Z_BITS = 8


def _interleave_sql(x: str, y: str) -> str:
    """Unrolled Morton interleave: x bits land at even positions, y at
    odd. Same text is valid Spark SQL and DuckDB SQL."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date")) % 256)
        .cast("bigint")
        .alias("y"),
    )
    z = F.expr(_interleave_sql("x", "y"))
    return (
        orders.select("x", "y", z.alias("z"))
        .groupBy((F.col("z") / 256).cast("int").alias("z_block"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.max("x") - F.min("x")).alias("x_span"),
            (F.max("y") - F.min("y")).alias("y_span"),
        )
    )


ORACLE_ZORDER_LAYOUT = f"""
WITH d AS (
  SELECT CAST(o_custkey % 256 AS BIGINT) AS x,
         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT) AS y
  FROM orders
),
zv AS (SELECT x, y, {_interleave_sql("x", "y")} AS z FROM d)
SELECT CAST(z // 256 AS INT) AS z_block,
       count(*) AS n_rows,
       max(x) - min(x) AS x_span,
       max(y) - min(y) AS y_span
FROM zv
GROUP BY 1
"""


QUERIES = [
    QueryDef("bucketed_join", q_bucketed_join, ORACLE_BUCKETED_JOIN, ("EXT-LAYOUT-BUCKET",)),
    QueryDef(
        "partition_pruned", q_partition_pruned, ORACLE_PARTITION_PRUNED, ("EXT-LAYOUT-PARTITION",)
    ),
    QueryDef("zorder_layout", q_zorder_layout, ORACLE_ZORDER_LAYOUT, ("EXT-LAYOUT-ZORDER",)),
    QueryDef("targeted_delete", q_targeted_delete, ORACLE_TARGETED_DELETE, ("EXT-DELETE-TARGETED",)),
    QueryDef(
        "purge_escaped_partitions",
        q_purge_escaped_partitions,
        ORACLE_PURGE_ESCAPED_PARTITIONS,
        ("EXT-DELETE-TARGETED",),
    ),
    QueryDef("compact_files", q_compact_files, ORACLE_COMPACT_FILES, ("EXT-COMPACT",)),
    QueryDef(
        "schema_evolve_read",
        q_schema_evolve_read,
        ORACLE_SCHEMA_EVOLVE_READ,
        ("EXT-SCHEMA-EVOLVE",),
    ),
]
