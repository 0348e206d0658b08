"""SCD Type 2 snapshot — OP-SINK-SCD2.

Reference: snapshots/snap_gdp_history.sql:4-11 (``strategy='check'``,
``check_cols=['gdp_million_eur']``, ``invalidate_hard_deletes=True``).

``scd2_merge`` is the pure-plan core: given the previous snapshot state
and the current source rows, produce the next snapshot state with
``valid_from`` / ``valid_to`` / ``is_current`` bookkeeping:

- new key            → open row (valid_from=now, valid_to=null, current)
- changed check-col  → close old row (valid_to=now) + open new row
- unchanged          → carried through untouched
- key absent (hard delete) → close old row (valid_to=now)
- already-closed history rows are carried through verbatim (idempotent
  across reruns — a re-run with identical source changes nothing).

The clock is injected (``now``) for deterministic tests (SURVEY §7.3).

Scale posture: one shuffle each side on the snapshot key (uniform md5
surrogate → no skew); ``current`` is usually much smaller than the
accumulated history → Catalyst/AQE picks a broadcast for it. The
closed-history branch is a pure filter (no shuffle). Null-safe equality
(``eqNullSafe``) on check columns so NULL→value transitions register as
changes, matching dbt's check strategy.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental import open_stored, swap_into_place


def _any_check_changed(check_cols: tuple[str, ...] | list[str]) -> Column:
    diffs = [~F.col(f"snap.{c}").eqNullSafe(F.col(f"cur.{c}")) for c in check_cols]
    return reduce(lambda a, b: a | b, diffs)


def scd2_merge(
    snapshot: DataFrame | None,
    current: DataFrame,
    unique_key: str,
    check_cols: list[str],
    now,  # Column or literal acceptable to F.lit
) -> DataFrame:
    """Produce the next snapshot state (lazy plan, no I/O).

    ``snapshot`` columns = source columns + valid_from/valid_to/is_current;
    ``current`` columns = source columns only.
    """
    if now is None:
        # fail fast: lit(None) would write NULL valid_from/valid_to
        # while is_current still flips — permanently unorderable SCD2
        # history, with no error at write time
        raise ValueError(
            "scd2_merge requires a concrete clock; pass now=<datetime|Column> "
            "(the CLI auto-fills it, library callers must too)"
        )
    now_col = now if isinstance(now, Column) else F.lit(now).cast("timestamp")
    src_cols = [c for c in current.columns]

    if snapshot is None:
        return current.select(
            *src_cols,
            now_col.alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    closed_history = snapshot.filter(~F.col("is_current"))
    open_rows = snapshot.filter(F.col("is_current"))

    # Side-presence markers: a NULL unique_key must not read as "row
    # absent on this side" — a key-isNotNull presence test would fail
    # every branch filter for an open NULL-key row and silently DELETE
    # it from the next state (while the first run emitted it). The
    # join is null-safe for the same reason: NULL tracks as ONE key
    # value, consistent with groupBy semantics and the duplicate-key
    # guard in run_snapshot. Marker names dodge user-column collisions.
    snap_mark, cur_mark = "__snap_present", "__cur_present"
    while snap_mark in src_cols:
        snap_mark = "_" + snap_mark
    while cur_mark in src_cols:
        cur_mark = "_" + cur_mark
    open_rows = open_rows.withColumn(snap_mark, F.lit(True))
    current = current.withColumn(cur_mark, F.lit(True))

    joined = open_rows.alias("snap").join(
        current.alias("cur"),
        on=F.col(f"snap.{unique_key}").eqNullSafe(F.col(f"cur.{unique_key}")),
        how="full_outer",
    )
    changed = _any_check_changed(tuple(check_cols))
    snap_key = F.col(f"snap.{snap_mark}").isNotNull()
    cur_key = F.col(f"cur.{cur_mark}").isNotNull()

    # 1) carried-through open rows: key present on both sides, unchanged
    carried = joined.filter(snap_key & cur_key & ~changed).select(
        *[F.col(f"snap.{c}").alias(c) for c in src_cols],
        F.col("snap.valid_from").alias("valid_from"),
        F.col("snap.valid_to").alias("valid_to"),
        F.col("snap.is_current").alias("is_current"),
    )
    # 2) closed versions: changed or hard-deleted
    closed_now = joined.filter(snap_key & (~cur_key | changed)).select(
        *[F.col(f"snap.{c}").alias(c) for c in src_cols],
        F.col("snap.valid_from").alias("valid_from"),
        now_col.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    # 3) fresh open versions: new key or changed check-cols
    opened = joined.filter(cur_key & (~snap_key | changed)).select(
        *[F.col(f"cur.{c}").alias(c) for c in src_cols],
        now_col.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed_history.unionByName(carried).unionByName(closed_now).unionByName(opened)


def run_snapshot(
    spark: SparkSession,
    snapshot_path: str,
    current: DataFrame,
    unique_key: str,
    check_cols: list[str],
    now,
) -> DataFrame:
    prev = open_stored(spark, snapshot_path)  # None: first run
    # fail fast on duplicate keys, like the now=None check: duplicates
    # fan out the full_outer join and compound multiple is_current
    # rows per key EVERY run — silent history corruption with no error
    # at write time (dbt likewise requires one snapshot row per key).
    # One tiny extra job: a map-side-combined groupBy on the key,
    # short-circuited by limit(1); NULL groups as one key, matching the
    # merge's null-safe join.
    # collision-free alias (same loop as the presence markers in
    # scd2_merge): a key literally named "count" — or "__n" — would
    # otherwise make the agg output ambiguous and raise
    # AMBIGUOUS_REFERENCE instead of the intended ValueError
    n_alias = "__n"
    while n_alias == unique_key:
        n_alias = "_" + n_alias
    dup = (
        current.groupBy(unique_key).agg(F.count(F.lit(1)).alias(n_alias))
        .filter(F.col(n_alias) > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(
            f"snapshot source has duplicate {unique_key!r} value "
            f"{dup[0][0]!r}: SCD2 requires one row per key per run"
        )
    nxt = scd2_merge(prev, current, unique_key, check_cols, now)
    swap_into_place(nxt.write.mode("overwrite"), snapshot_path)
    return nxt
