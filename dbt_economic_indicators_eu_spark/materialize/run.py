"""DAG runner: materialize registered models into a warehouse directory
(the engine-side equivalent of ``dbt run`` — SURVEY §3.1).

- ``view``        → nothing written; the lazy DataFrame *is* the view
                    (Catalyst inlines it into downstream plans), plus a
                    temp view for SQL access (OP-SINK-VIEW).
- ``table``       → overwrite parquet (OP-SINK-TABLE).
- ``incremental`` → merge_upsert on unique_key + watermark (OP-SINK-INCR).
- ``snapshot``    → scd2_merge with check_cols (OP-SINK-SCD2).

Contract enforcement happens inside Context.ref() before any write
(OP-TEST-CONTRACT; reference ``_marts__models.yml:9-11``).
"""

from __future__ import annotations

import functools
import logging
import os
import threading
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import Context, Registry
from .incremental import open_stored, run_incremental, swap_into_place
from .snapshot import run_snapshot, scd2_merge

logger = logging.getLogger(__name__)


def schema_name(target: str, custom_schema: str) -> str:
    """Target-aware namespace policy (reference
    ``macros/data_quality.sql:66-73`` generate_schema_name): prod gets
    the bare schema, every other target gets a ``<target>_`` prefix so
    dev/CI runs land beside — never on top of — prod tables."""
    custom_schema = custom_schema.strip()
    return custom_schema if target == "prod" else f"{target}_{custom_schema}"


def warehouse_base(warehouse: str, target: str, schema: str | None) -> str:
    """The on-disk root written models land under — THE single source
    of the namespace policy (run_models and the CLI test verb must
    resolve artifacts identically, or tests silently recompute via ref
    instead of checking the stored relations)."""
    if schema is None:
        return warehouse
    return os.path.join(warehouse, schema_name(target, schema))


def observe_row_count(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Row-count monitoring (reference ``macros/data_quality.sql:49-63``
    log_row_count) the Spark-first way: ``df.observe`` piggybacks an
    accumulator on the NEXT action instead of running a second
    count(*) scan — zero extra jobs, exact even mid-pipeline. Read
    ``observation.get["row_count"]`` after the write/collect; pair with
    ``log_observed`` to mirror the macro's info-log line."""
    obs = Observation(f"row_count_{name}")
    return df.observe(obs, F.count(F.lit(1)).alias("row_count")), obs


def log_observed(name: str, obs: Observation) -> int:
    n = int(obs.get["row_count"])
    logger.info("Row count for %s: %d", name, n)
    return n


def _overwrite_table(df: DataFrame, model, name: str, path: str) -> DataFrame:
    """Overwrite-write a model's frame as its stored relation, honoring
    the declared partition layout (a fact-grain table partitioned by
    year gives downstream readers partition pruning instead of full
    scans), and return it. Used by table materializations and by
    ``--full-refresh`` incremental rebuilds."""
    observed, obs = observe_row_count(df, name)
    writer = observed.write.mode("overwrite")
    if model.partition_by:
        writer = writer.partitionBy(model.partition_by)
    # crash-safe swap shared with run_incremental and run_snapshot: a
    # plain overwrite deletes the target BEFORE writing, so a crash
    # mid-write would destroy the stored relation (fatal for a
    # --full-refresh rebuild of an incremental's accumulated history)
    swap_into_place(writer, path)
    log_observed(name, obs)
    return df


def _materialize_one(
    ctx: Context,
    store: Relations,
    name: str,
    now,
    build_lock,
    full_refresh: bool = False,
) -> DataFrame:
    """Build + write one model. Plan construction and cache updates run
    under ``build_lock`` (Context memoization and the store are not
    thread-safe); the WRITE — the expensive Spark action — runs outside
    it, so independent models' jobs overlap. The read-back takes the
    written frame's schema: no footer job, and a rowless directory
    reads typed. It replaces the store's entry, so no later stage holds
    a relation whose files the swap deleted."""
    spark = store.spark
    model = ctx.registry.get(name)
    with build_lock:
        df = ctx.ref(name)  # builds upstream chain lazily, checks contracts
    path = os.path.join(store.base, name)
    if model.materialization == "view":
        with build_lock:
            df.createOrReplaceTempView(name)
        return df
    if model.materialization == "table":
        written = _overwrite_table(df, model, name, path)
    elif model.materialization == "incremental":
        assert model.unique_key, f"incremental model {name} needs unique_key"
        if full_refresh:
            # dbt `run --full-refresh`: drop-and-rebuild the incremental
            # from the model's current plan — watermark and keyed upsert
            # skipped, accumulated state replaced (snapshots are NOT
            # rebuilt, matching dbt: history is immutable)
            written = _overwrite_table(df, model, name, path)
        else:
            # per-model watermark (the reference's is_incremental()
            # predicate)
            written = run_incremental(
                spark, path, df, model.unique_key, model.watermark_col,
                partition_by=model.partition_by,
            )
    elif model.materialization == "snapshot":
        assert model.unique_key and model.check_cols
        written = run_snapshot(spark, path, df, model.unique_key, list(model.check_cols), now)
    fresh = spark.read.schema(written.schema).parquet(path)
    with build_lock:
        ctx.set_relation(name, fresh)
        store.stored[name] = fresh
    return fresh


def stored_shape(model, build_df: DataFrame) -> DataFrame:
    """THE lazy frame shaped like a model's STORED relation, derived
    from its build plan. ``Relations.stored_relation``'s rowless reads
    and the probe context's refs both take it from here (one
    definition, or the SCD2-schema rule drifts). For a snapshot it is
    NOT the build plan: scd2_merge appends valid_from/valid_to/
    is_current, which downstream refs and schema tests select, so it
    is the merge itself over an empty slice (lazy plan, no job)."""
    if model.materialization == "snapshot":
        return scd2_merge(
            None, build_df.limit(0), model.unique_key,
            list(model.check_cols), "1970-01-01 00:00:00",
        )
    return build_df


def make_stored_resolver(registry, opener, *, exclude: set[str] | None = None):
    """THE stored-relation resolver (dbt ref semantics) over ``opener``
    (name -> stored relation or None), shared by the store's resolver
    (``Relations``: the graph harvest and the test/docs contexts) and
    run_models' contexts — one definition so the consumers can never
    drift. Views return None (a stored view is a stored QUERY;
    recomputing the plan is its read semantics), as do names in
    ``exclude`` (models materializing in-run arrive via set_relation)
    and never-materialized or rowless paths (fall back to a fresh
    build)."""

    def stored_resolver(name: str):
        if exclude is not None and name in exclude:
            return None
        if registry.get(name).materialization == "view":
            return None
        return opener(name)

    return stored_resolver


class Relations:
    """What one command has opened, written and harvested (dbt's
    relation cache and manifest graph), shared by every stage of the
    command and by run_models' scheduler: the registry, session,
    warehouse base (``warehouse_base``) and run vars it was built from,
    one dict of stored relations, the stored resolver over it, and one
    probe context that harvests dependency edges lazily, only for the
    roots a caller asks for. Pool threads reach it only under
    run_models' ``build_lock``."""

    def __init__(self, registry: Registry, spark: SparkSession, base: str,
                 vars: dict | None = None) -> None:
        self.registry, self.spark, self.base = registry, spark, base
        self.vars = dict(vars or {})
        # model → the stored relation this command opened or wrote; a
        # write replaces its entry
        self.stored: dict[str, DataFrame | None] = {}
        # refs of written models resolve to their STORED relations: a
        # downstream plan may select columns that exist only in the
        # warehouse (SCD2 bookkeeping, append_new_columns survivors)
        # and would fail analysis against a fresh rebuild's schema
        self.resolver = make_stored_resolver(registry, self.stored_relation)

    def stored_relation(self, name: str, ctx: Context | None = None):
        """``open_stored`` on a model's directory, once per command. Given
        a context, a rowless directory reads typed by the model's stored
        shape; else it gives None, as an unbuilt model does (retried)."""
        if self.stored.get(name) is None:
            self.stored[name] = open_stored(
                self.spark, os.path.join(self.base, name),
                None if ctx is None else (
                    lambda: stored_shape(self.registry.get(name), ctx.ref(name)).schema
                ),
            )
        return self.stored[name]

    @functools.cached_property
    def probe(self) -> Context:
        """The command's one probe context (edge harvest), built with
        the run vars and the stored resolver (so a vars-conditional ref
        gives the edge the run takes, and a plan selecting stored-only
        columns analyzes). It memoizes each plan it builds, so no plan
        is probe-built twice in one command."""
        return self.registry.context(
            self.spark, vars=self.vars, probe=True, stored_resolver=self.resolver
        )

    @property
    def graph(self) -> dict[str, set]:
        """Every model's direct upstreams, for graph selectors and the
        docs manifest."""
        return self.probe.harvest(self.registry.models)


def _selected_upstream_map(graph: dict[str, set], names: list[str]) -> dict[str, set]:
    """For each selected model, its SELECTED upstreams in ``graph`` —
    transitively THROUGH unselected nodes: with A(selected) -> B
    (unselected view) -> C(selected), A must wait for C, because A's
    build recomputes B, whose ref(C) must resolve to C's stored
    relation."""
    selected = set(names)

    def sel_ups(n: str) -> set[str]:
        out: set[str] = set()
        stack, seen = list(graph.get(n, ())), set()
        while stack:
            d = stack.pop()
            if d in seen:
                continue
            seen.add(d)
            if d in selected:
                out.add(d)
            else:
                stack.extend(graph.get(d, ()))
        return out

    return {n: sel_ups(n) for n in names}


def run_models(
    store: Relations,
    *,
    select: list[str] | None = None,
    now=None,
    threads: int = 1,
    full_refresh: bool = False,
) -> dict[str, DataFrame]:
    """Materialize ``select`` (default: all) models of ``store.registry``
    under ``store.base``, reading, writing and scheduling through the
    command's ``store``. Returns the final DataFrame per model (for
    views: the lazy plan; for written models: the stored relation, read
    with the written schema), and puts each written relation into the
    store.

    The store's base applies the ``schema_name`` namespace policy
    (``warehouse_base``): with a schema, written models land under
    ``<warehouse>/<schema_name(target, schema)>/`` — so a dev/CI run
    can never overwrite prod tables in a shared warehouse. Its vars are
    the run-level project variables (reference
    ``dbt_project.yml:20-26``), resolved by models via ``ctx.var``.

    ``threads`` mirrors dbt's node-level concurrency (reference
    ``profiles.yml:11,14`` — ``threads: 4`` dev / ``8`` prod): models
    whose upstreams have finished materialize concurrently from a
    thread pool. Spark supports concurrent job submission from multiple
    driver threads; the scheduler interleaves their stages. Semantics
    are identical at any thread count (``threads <= 1`` is a pool of
    one: the same scheduler, run serially) — a model's plan is built
    only after every upstream it refs has materialized (so ``ref``
    resolves to the STORED relation, dbt's contract). Models are
    returned in selection order.

    ``full_refresh`` mirrors ``dbt run --full-refresh``: incremental
    models drop-and-rebuild from their current plan instead of
    merging; tables/views are unaffected (always rebuilt) and
    snapshots keep their immutable history, exactly like dbt."""
    registry = store.registry
    os.makedirs(store.base, exist_ok=True)
    names = select if select is not None else list(registry.models)
    # dedupe a repeated selection (order-preserving): the scheduler
    # would otherwise submit the same model twice
    # CONCURRENTLY — two overwrite writes racing on one table path
    names = list(dict.fromkeys(names))

    # expose the injectable run clock to models via ctx.var("now") (the
    # Python-model ports' scored_at/forecast_generated_at — reference
    # py_data_quality_scores.py:216, py_unemployment_forecast.py:186
    # use datetime.now(); --now pins it for reproducible runs). An
    # explicit run-level "now" var wins; the key is inert for the
    # staging filter (models/econ.py _FILTER_VARS).
    vars = store.vars
    if now is not None and "now" not in vars:
        vars = {**vars, "now": now}

    # dbt ref semantics for UNSELECTED written upstreams: an explicit
    # --select run must resolve refs to the already-materialized
    # warehouse relation (an incremental's fresh recompute would see
    # only the current batch, not its accumulated history). Selected
    # names are excluded — they materialize in-run and land in the
    # context via set_relation.
    ctx: Context = registry.context(
        store.spark, vars=vars,
        stored_resolver=make_stored_resolver(
            registry, store.stored_relation, exclude=set(names)
        ),
    )

    # One scheduler for every thread count: a model is submitted once
    # every SELECTED upstream it waits on has materialized, so its plan
    # (built inside _materialize_one) refs the STORED relation. Edges
    # come from the store's probe context (the selection and its
    # upstream closure, each plan built at most once per store to
    # collect refs, then discarded; its stored reads and source schema
    # inference cost Spark jobs) only when they can change the
    # schedule: a selection out of registry declaration order (a mart
    # listed before its incremental upstream would otherwise build from
    # a fresh single-batch recompute), or several models that could
    # overlap. Otherwise the declaration-order chain
    # is exact, since any subsequence of declaration order is
    # topological; this covers a serial all-models run, the CLI's
    # declaration-ordered lists at --threads 1, and every one-model run.
    decl = {n: i for i, n in enumerate(registry.models)}
    in_decl_order = all(
        decl[a] < decl[b] for a, b in zip(names, names[1:]) if a in decl and b in decl
    )
    if not in_decl_order or (threads > 1 and len(names) > 1):
        upstream = _selected_upstream_map(store.probe.harvest(names), names)
    else:
        upstream = {n: set(names[:i]) for i, n in enumerate(names)}

    out: dict[str, DataFrame] = {}
    build_lock = threading.Lock()
    done: set[str] = set()
    pending = list(names)  # given order = stable tie-break
    with ThreadPoolExecutor(max_workers=max(1, threads)) as pool:
        running: dict = {}
        while pending or running:
            ready = [n for n in pending if upstream[n] <= done]
            for n in ready:
                pending.remove(n)
                running[
                    pool.submit(
                        _materialize_one, ctx, store, n, now, build_lock,
                        full_refresh=full_refresh,
                    )
                ] = n
            if not running:
                # only reachable on a cycle, which ctx.ref would also
                # have raised on — defensive
                raise RuntimeError(f"unschedulable models: {pending}")
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                n = running.pop(fut)
                try:
                    out[n] = fut.result()
                except BaseException:
                    # stop at the first failure: cancel everything
                    # queued (in-flight writes — at most threads-1 —
                    # drain; threads cannot be killed) so no NEW model
                    # materializes downstream of a failure
                    for f in running:
                        f.cancel()
                    pool.shutdown(wait=True, cancel_futures=True)
                    raise
                done.add(n)
    return {n: out[n] for n in names}
