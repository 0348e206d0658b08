"""Incremental upsert materialization — OP-SINK-INCR.

The reference's flagship engine feature (fct_economic_indicators.sql:3-8:
``materialized='incremental'``, ``unique_key='indicator_key'``,
``on_schema_change='append_new_columns'``; watermark predicate :28-31).

Plain-parquet strategy (no Delta in this environment):

1. watermark: keep only new rows past ``max(watermark_col)`` of the
   existing table (skipped on first run);
2. upsert: existing rows whose key collides with an incoming row are
   replaced — ``existing LEFT ANTI JOIN incoming ON key``, then
   ``unionByName(..., allowMissingColumns=True)`` which implements
   ``append_new_columns`` schema evolution in both directions;
3. crash-safe swap (``swap_into_place``): write to ``<path>.tmp``,
   rename the live table aside, rename ``.tmp`` into place —
   ``recover_interrupted_swap`` resolves every crash window before the
   next read. True atomicity needs a transactional table format
   (Delta/Iceberg) — at cluster scale swap via metastore
   table-pointer flip instead.

``open_stored`` is the one reader of a stored relation: the merge
target here, the snapshot's prior state, the stored-relation resolver
behind ``ref()`` and the CLI ``test``/``docs`` verbs all open a model's
directory through it.

Scale posture: the anti-join shuffles on the unique key (uniform
surrogate md5 → no skew); the incoming batch is typically small →
broadcast it. Partition the target by a coarse time column so the
rewrite touches only affected partitions at 100 TB.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def has_parquet_files(path: str) -> bool:
    """True when ``path`` holds at least one parquet data file THAT
    SPARK WILL READ. The shared probe for the rowless-target
    condition: a partitioned write of zero rows leaves a directory
    with no footers, which ``spark.read.parquet`` cannot infer a
    schema from — callers fall back to first-run semantics or an
    explicit schema.

    Spark-hidden entries (``_``/``.`` prefixes — ``_temporary`` from
    an interrupted write, ``.staging``, ``_SUCCESS``) are skipped like
    Spark's own file index skips them: counting a killed job's
    ``_temporary`` part files would flip the probe to True while the
    reader still sees zero data files — resurrecting exactly the
    persistent UNABLE_TO_INFER_SCHEMA crash this probe prevents."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in files
        ):
            return True
    return False


def recover_interrupted_swap(path: str) -> None:
    """Finish (or roll back) a ``swap_into_place`` that crashed mid-swap.

    Callers invoke this BEFORE READING ``path`` — a crash between the
    two renames leaves ``path`` missing, and a reader that sees that as
    first-run semantics would then rebuild without history and destroy
    both recovery copies on its own swap (the silent-history-loss
    failure mode this module exists to prevent).

    States and their resolution:
    - ``path`` live + stale ``.old``: crash after the swap completed
      but before cleanup — drop ``.old``.
    - ``path`` missing + ``.old`` present: crash between the renames.
      ``.tmp``, if present, is the COMPLETE new state (the rename-aside
      happens strictly after the tmp write returns), so promote it and
      finish the swap; otherwise restore ``.old``.
    - ``path`` missing + only ``.tmp``: a FIRST write crashed mid-write
      — ``.tmp`` may be partial, so it is NOT promoted; the caller
      rebuilds from scratch and the next swap overwrites it.
    """
    path = path.rstrip("/")
    tmp, old = path + ".tmp", path + ".old"
    if os.path.exists(path):
        if os.path.exists(old):
            shutil.rmtree(old)
        return
    if os.path.exists(old):
        if os.path.exists(tmp):
            os.rename(tmp, path)
        else:
            os.rename(old, path)
        if os.path.exists(old):
            shutil.rmtree(old)


def open_stored(
    spark: SparkSession, path: str, empty_schema=None
) -> DataFrame | None:
    """THE reader of a model's stored relation at ``path`` (a write
    reads back what it stored with the written schema instead): each
    consumer re-implementing the read is how a copy drifts and crashes
    on exactly the table it skipped a step for. In order:

    1. ``recover_interrupted_swap``: a missing path with a live
       ``.old`` must read as the recovered relation. A reader that took
       it for first-run would rebuild without history (a single-batch
       recompute) and destroy both recovery copies on its own swap.
    2. The ``has_parquet_files`` footer probe, not a bare exists(): a
       rowless directory (an empty slice wrote no footers) has no
       schema to infer and would crash UNABLE_TO_INFER_SCHEMA on every
       later read. Only that case is routed around; any other read
       failure (corrupt footer, IO, permissions) raises, since treating
       a failing target as first-run would overwrite it with only the
       incoming batch.
    3. ``mergeSchema``: after an append_new_columns batch the
       partition-scoped merge rewrites only the touched partitions, so
       the table legitimately holds mixed footers. A single-footer
       sample would hide the evolved column, and the next merge would
       rewrite kept rows without its values. Footer merging costs
       per-file metadata only (the same one job as a plain read); a
       transactional format replaces it with a table schema at cluster
       scale.
    4. A rowless directory reads with ``empty_schema()`` when that
       thunk is given (a typed empty relation), else gives ``None``,
       as does a path that was never materialized.
    """
    recover_interrupted_swap(path)
    if has_parquet_files(path):
        return spark.read.option("mergeSchema", "true").parquet(path)
    if empty_schema is None or not os.path.isdir(path):
        return None
    return spark.read.schema(empty_schema()).parquet(path)


def swap_into_place(writer, path: str) -> None:
    """Crash-safe directory swap shared by every overwrite-style
    materialization (table overwrite, incremental global merge, SCD2
    snapshot): write the new state beside the live table, then swap via
    two renames. There is never a window where the only copy of
    accumulated state is mid-``rmtree`` — a crash at any point leaves
    ``path``, ``.old``, or a complete ``.tmp`` on disk, and
    ``recover_interrupted_swap`` (run here and before every read of
    ``path``) resolves each state. True atomicity needs a transactional
    table format; at cluster scale swap via a metastore table-pointer
    flip instead.

    ``writer`` is a configured ``DataFrameWriter`` in overwrite mode
    (so a stale ``.tmp`` from a previous crash is simply overwritten).
    """
    path = path.rstrip("/")
    recover_interrupted_swap(path)
    tmp, old = path + ".tmp", path + ".old"
    writer.parquet(tmp)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def _past_watermark(existing: DataFrame, incoming: DataFrame, wc: str) -> DataFrame:
    """Keep incoming rows strictly past ``max(existing[wc])``, as a
    broadcast scalar-agg crossJoin (no driver collect). A NULL
    watermark — empty target, or an all-NULL watermark column — must
    pass EVERYTHING through: ``col > NULL`` is NULL, so without the
    isNull disjunct a once-empty target silently rejects every later
    batch forever."""
    # pick an internal alias that cannot collide with an incoming
    # column (a user column literally named __wm would make the
    # crossJoin duplicate the name and the filter ambiguous)
    alias = "__wm"
    while alias in incoming.columns:
        alias = "_" + alias
    wm = existing.agg(F.max(wc).alias(alias))
    return (
        incoming.crossJoin(F.broadcast(wm))
        .filter(F.col(alias).isNull() | (F.col(wc) > F.col(alias)))
        .drop(alias)
    )


def merge_upsert(
    existing: DataFrame | None,
    incoming: DataFrame,
    unique_key: str,
    watermark_col: str | None = None,
    broadcast_incoming_keys: bool = False,
) -> DataFrame:
    """Pure-plan merge (no I/O): the logical core of the incremental
    materialization, usable standalone and unit-testable.

    - ``existing is None`` → first run: incoming passes through.
    - watermark: incoming rows must be strictly past
      ``max(existing[watermark_col])`` (fct_economic_indicators.sql:28-31);
      expressed as a broadcast scalar-aggregate crossJoin so the whole
      merge stays one Catalyst plan (no driver collect).
    - key upsert: incoming wins on key collision.
    - ``unionByName(allowMissingColumns=True)`` = append_new_columns.
    """
    if existing is None:
        return incoming
    if watermark_col is not None:
        incoming = _past_watermark(existing, incoming, watermark_col)
    keys = incoming.select(unique_key)
    if broadcast_incoming_keys:
        # Micro-batch merges: the incoming key set is bounded by the
        # trigger size, so shipping it beats shuffling the (much
        # larger) target. Batch callers leave this to Catalyst/AQE,
        # which sees real stats at cluster scale.
        keys = F.broadcast(keys)
    keep = existing.join(keys, on=unique_key, how="left_anti")
    return keep.unionByName(incoming, allowMissingColumns=True)


def run_incremental(
    spark: SparkSession,
    target_path: str,
    incoming: DataFrame,
    unique_key: str,
    watermark_col: str | None = None,
    broadcast_incoming_keys: bool = False,
    partition_by: str | None = None,
) -> DataFrame:
    """Full materialization: read target (if any), merge, swap-write;
    returns the frame written (``existing`` if the watermark drops all).

    ``partition_by`` switches to a PARTITION-SCOPED merge — the shape
    that matters at 100 TB: the target is laid out as
    ``partition_by=<v>/`` directories, the merge reads ONLY the
    partitions the incoming batch touches (partition pruning at the
    scan), and the write uses dynamic partition overwrite so untouched
    partitions' files are never rewritten. A monthly batch into a
    years-deep fact table costs O(batch partitions), not O(table).
    """
    existing = open_stored(spark, target_path)
    if existing is None or partition_by is None:
        merged = merge_upsert(
            existing, incoming, unique_key, watermark_col, broadcast_incoming_keys
        )
        w = merged.write.mode("overwrite")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        swap_into_place(w, target_path)
        return merged

    # -- partition-scoped path ----------------------------------------
    # CONTRACT: the partition value must be stable per unique_key (a
    # pure function of the key, or immutable once written). A key
    # whose partition value CHANGES leaves its old row in an untouched
    # partition — the key-scoped anti-join only sees the affected
    # partitions. Keys that can move partitions need the global merge
    # path (partition_by=None), same as Hive/Delta dynamic-overwrite
    # pipelines.
    if watermark_col is not None:
        # global watermark over the FULL table — a column-pruned scan
        # of one column, not a data rewrite
        incoming = _past_watermark(existing, incoming, watermark_col)
    # materialize the (possibly expensive multi-join) incoming plan
    # ONCE: both the partition listing below and the merged write
    # consume it — without the checkpoint each would re-run the full
    # plan (including the watermark scan of the existing table),
    # roughly doubling merge cost per batch. Sized to the batch, like
    # the merged checkpoint below.
    incoming = incoming.localCheckpoint(eager=True)
    # affected partitions: bounded by nature (a batch touches few
    # partitions), so the driver-side list is safe
    parts = [r[0] for r in incoming.select(partition_by).distinct().collect()]
    if not parts:
        return existing  # watermark dropped everything: no partition changes
    # null-safe membership: isin() is NULL for a NULL partition value,
    # which would EXCLUDE existing NULL-partition rows from the merge
    # while dynamic overwrite still replaces their directory — silent
    # data loss for any pipeline whose partition column can be NULL
    member = None
    for v in parts:
        term = (
            F.col(partition_by).isNull()
            if v is None
            else F.col(partition_by) == F.lit(v)
        )
        member = term if member is None else (member | term)
    subset = existing.filter(member)
    # same merge semantics as the global path, scoped to the affected
    # partitions (watermark already applied above)
    merged = merge_upsert(
        subset, incoming, unique_key,
        watermark_col=None,
        broadcast_incoming_keys=broadcast_incoming_keys,
    )
    # Materialize before overwriting the path we just read (Spark
    # refuses a same-path read+overwrite otherwise). The checkpoint is
    # sized to the AFFECTED partitions only; at cluster scale a
    # transactional format (Delta/Iceberg) replaces this with a commit.
    merged = merged.localCheckpoint(eager=True)
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_by)
        .parquet(target_path)
    )
    return merged
