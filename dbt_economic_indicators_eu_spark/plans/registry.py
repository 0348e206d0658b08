"""Model registry — the Spark-native equivalent of the reference's
ref()/source() DAG (dbt manifest; reference ``dbt_project.yml`` +
``{{ ref(...) }}`` call sites, e.g. int_country_annual_metrics.sql:26-57).

Design (SURVEY §3.1 "Spark-native redesign"): a model is a Python
function ``build(ctx) -> DataFrame``. ``ctx.ref(name)`` returns the
upstream model's *lazy* DataFrame, so a whole staging→intermediate→mart
chain composes into ONE Catalyst plan per materialized output — views
cost nothing (Catalyst inlines them), and only ``table`` /
``incremental`` / ``snapshot`` models trigger an action.

Unit-test mock injection (reference ``_intermediate__unit_tests.yml``)
is first-class: ``ctx.ref`` resolves mocks before real models, so any
model can be evaluated against literal given-rows without touching its
code — see ``testing.unit``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class RegistryError(Exception):
    pass


@dataclass(frozen=True)
class ModelDef:
    name: str
    build: Callable[["Context"], DataFrame]
    materialization: str = "view"  # view | table | incremental | snapshot
    unique_key: str | None = None  # incremental merge key / snapshot key
    # incremental watermark column — the reference's is_incremental()
    # predicate `col > (select max(col) from this)`
    # (fct_economic_indicators.sql:28-31); None = keyed upsert only
    watermark_col: str | None = None
    # incremental partition layout: merges rewrite only the partitions
    # the batch touches (materialize/incremental.py partition-scoped
    # path) — the 100 TB posture for time-partitioned facts
    partition_by: str | None = None
    check_cols: tuple[str, ...] = ()  # snapshot check-strategy columns
    contract: StructType | None = None  # enforced schema (OP-TEST-CONTRACT)
    tags: tuple[str, ...] = ()
    # Declarative schema tests — the dbt column-test surface (reference
    # _staging__models.yml / _intermediate__models.yml /
    # _marts__models.yml). Each entry:
    #   ("unique", col) | ("not_null", col)
    #   ("relationships", col, parent_model, parent_col)
    #   ("accepted_values", col, (v1, v2, ...))
    # Evaluated by testing.schedule.run_schema_tests as ONE unioned
    # count plan (the dbt-test equivalent).
    tests: tuple[tuple, ...] = ()


@dataclass(frozen=True)
class SourceDef:
    """A raw source declaration (reference ``_sources.yml``): column
    tests + freshness policy (warn_after/error_after on
    ``loaded_at_field``), optionally bound to a loader."""

    name: str
    loader: Callable[[SparkSession], DataFrame] | None = None
    loaded_at_field: str | None = None
    warn_after_days: int = 7
    error_after_days: int = 30
    tests: tuple[tuple, ...] = ()


class Registry:
    """Name → ModelDef with topological resolution and cycle detection."""

    def __init__(self) -> None:
        self._models: dict[str, ModelDef] = {}
        self._sources: dict[str, SourceDef] = {}
        # dbt singular tests (reference tests/*.sql): name -> builder
        # returning a violations frame (any row = failure)
        self._singulars: dict = {}
        # project-declared var defaults (the reference's
        # dbt_project.yml ``vars:`` block, :20-26) — the middle layer
        # of dbt's var() resolution: run override > project default >
        # call-site default. Declared via declare_vars().
        self.project_vars: dict = {}

    def declare_vars(self, defaults: dict) -> None:
        """Declare project-level var defaults (dbt_project.yml vars)."""
        self.project_vars.update(defaults)

    def singular_test(self, name: str, fn=None):
        """Declare a dbt SINGULAR test (reference ``tests/*.sql``): a
        builder ``Context -> DataFrame`` whose ROWS ARE VIOLATIONS —
        dbt fails the test when the query returns any row. Usable as a
        decorator (``@reg.singular_test("name")``) or a plain call."""
        if fn is None:
            def deco(f):
                return self.singular_test(name, f)

            return deco
        if name in self._singulars:
            raise RegistryError(f"duplicate singular test {name!r}")
        self._singulars[name] = fn
        return fn

    @property
    def singular_tests(self) -> dict:
        return dict(self._singulars)

    def singular_test_frame(self, ctx: "Context", name: str) -> DataFrame:
        """One singular test's (lazy) violations frame, built once per
        context under a pseudo node name so its refs land in
        ``ctx.deps`` — the frame is memoized, so a scoped test run that
        harvests deps first does not construct the plan twice."""
        key = f"t:{name}"
        if key not in ctx._cache:
            if name not in self._singulars:
                # RegistryError like every other unknown-name lookup
                # here, not a bare KeyError
                raise RegistryError(f"unknown singular test {name!r}")
            ctx._building.append(f"test:{name}")
            try:
                ctx._cache[key] = self._singulars[name](ctx)
            finally:
                ctx._building.pop()
            ctx.deps.setdefault(f"test:{name}", set())
        return ctx._cache[key]

    def singular_test_deps(self, ctx: "Context", name: str) -> set:
        """Direct model/source refs of one singular test (harvested
        from its memoized violations plan). dbt selects a singular test
        when any node it depends on is in the selection (eager indirect
        selection) — the CLI test verb uses these edges to scope the
        singular layer to ``--select`` (ADVICE r6 #2)."""
        self.singular_test_frame(ctx, name)
        return set(ctx.deps[f"test:{name}"])

    # -- declaration -------------------------------------------------
    def model(
        self,
        name: str,
        *,
        materialization: str = "view",
        unique_key: str | None = None,
        watermark_col: str | None = None,
        partition_by: str | None = None,
        check_cols: Iterable[str] = (),
        contract: StructType | None = None,
        tags: Iterable[str] = (),
        tests: Iterable[tuple] = (),
    ) -> Callable[[Callable[["Context"], DataFrame]], Callable[["Context"], DataFrame]]:
        """Decorator: ``@registry.model("stg_x")``."""

        def deco(fn: Callable[["Context"], DataFrame]) -> Callable[["Context"], DataFrame]:
            self.register(
                ModelDef(
                    name=name,
                    build=fn,
                    materialization=materialization,
                    unique_key=unique_key,
                    watermark_col=watermark_col,
                    partition_by=partition_by,
                    check_cols=tuple(check_cols),
                    contract=contract,
                    tags=tuple(tags),
                    tests=tuple(tuple(t) for t in tests),
                )
            )
            return fn

        return deco

    def register(self, model: ModelDef) -> None:
        if model.name in self._models:
            raise RegistryError(f"duplicate model {model.name!r}")
        if model.materialization not in ("view", "table", "incremental", "snapshot"):
            raise RegistryError(f"unknown materialization {model.materialization!r}")
        self._models[model.name] = model

    def source(
        self,
        name: str,
        loader: Callable[[SparkSession], DataFrame] | None = None,
        *,
        loaded_at_field: str | None = None,
        warn_after_days: int | None = None,
        error_after_days: int | None = None,
        tests: Iterable[tuple] = (),
    ) -> None:
        """Declare and/or bind a raw source (reference ``_sources.yml``).

        Declaration (column tests + freshness policy) and loader binding
        can happen separately: the model package declares metadata; the
        runner binds the concrete loader for its environment. A second
        call for the same name merges — metadata given earlier is kept
        unless overridden."""
        prev = self._sources.get(name)
        # freshness thresholds default to None = "not passed", so a
        # later loader-only rebind cannot silently reset an earlier
        # declared policy back to the defaults (7/30 apply only when
        # NO call ever declared a policy)
        self._sources[name] = SourceDef(
            name=name,
            loader=loader if loader is not None else (prev.loader if prev else None),
            loaded_at_field=loaded_at_field
            if loaded_at_field is not None
            else (prev.loaded_at_field if prev else None),
            warn_after_days=warn_after_days
            if warn_after_days is not None
            else (prev.warn_after_days if prev else 7),
            error_after_days=error_after_days
            if error_after_days is not None
            else (prev.error_after_days if prev else 30),
            tests=tuple(tuple(t) for t in tests) or (prev.tests if prev else ()),
        )

    def get(self, name: str) -> ModelDef:
        try:
            return self._models[name]
        except KeyError:
            raise RegistryError(f"unknown model {name!r}") from None

    @property
    def models(self) -> dict[str, ModelDef]:
        return dict(self._models)

    @property
    def sources(self) -> dict[str, "SourceDef"]:
        return dict(self._sources)

    # membership/access helpers that do NOT copy the backing dicts —
    # the ``models``/``sources`` properties return defensive copies,
    # which is wasted allocation on per-declaration hot loops (suite
    # compile checks membership once per declared test)
    def has_model(self, name: str) -> bool:
        return name in self._models

    def has_source(self, name: str) -> bool:
        return name in self._sources

    def get_source(self, name: str) -> "SourceDef":
        try:
            return self._sources[name]
        except KeyError:
            raise RegistryError(f"unknown source {name!r}") from None

    # -- resolution --------------------------------------------------
    def context(
        self,
        spark: SparkSession,
        *,
        mocks: dict[str, DataFrame] | None = None,
        vars: dict | None = None,
        probe: bool = False,
        stored_resolver=None,
    ) -> "Context":
        return Context(
            self,
            spark,
            mocks=dict(mocks or {}),
            vars=dict(vars or {}),
            _probe=probe,
            _stored_resolver=stored_resolver,
        )

    def dependency_graph(
        self,
        spark: SparkSession,
        *,
        mocks: dict[str, DataFrame] | None = None,
        vars: dict | None = None,
        select: Iterable[str] | None = None,
        stored_resolver=None,
    ) -> dict[str, set]:
        """model → direct upstreams (models and sources), harvested by
        building every model's LAZY plan in a scratch context — no
        execution, just py4j plan construction. Needs bound sources
        (or mocks covering them). ``mocks``/``vars`` mirror the run
        configuration so conditional refs resolve the same way the
        real run will; ``select`` limits the harvest."""
        ctx = self.context(
            spark, mocks=mocks, vars=vars, probe=True, stored_resolver=stored_resolver
        )
        names = list(select) if select is not None else list(self._models)
        for name in names:
            ctx.ref(name)
        # return EVERY harvested edge, not just the selected nodes':
        # a selected model may depend on another selected model only
        # THROUGH an unselected intermediate, and schedulers need those
        # intermediate edges to see the transitive ordering
        out = {n: set(v) for n, v in ctx.deps.items()}
        for name in names:
            out.setdefault(name, set())
        return out

    def expand_selection(
        self,
        tokens: list[str],
        graph: Callable[[], dict[str, set]] | None = None,
    ) -> list[str]:
        """dbt graph selectors: ``name``, ``+name`` (with ancestors),
        ``name+`` (with descendants), ``+name+``, and ``tag:<tag>``
        (every model carrying the tag — dbt_project.yml layer tags),
        including graph-operator combinations like ``+tag:marts`` /
        ``tag:marts+`` (every tagged model plus its ancestors /
        descendants, as dbt expands them).
        Names may be models or sources. Returns matching models in
        registry declaration order (already topological), then matching
        sources.

        ``graph`` returns the dependency graph (``dependency_graph``'s
        model → direct upstreams). It is called only when a token
        carries a graph operator: the harvest probe-builds EVERY
        model's plan, so plain names and ``tag:`` selections never pay
        for it, and a caller without bound sources passes None. The
        caller builds it with the run's ``vars`` and stored resolver,
        so ancestor selection and the run agree on the graph (a ref
        gated on ``ctx.var(...)``; a plan selecting stored-only
        columns), and can share one harvest across several calls."""
        deps: dict[str, set] | None = None
        children: dict[str, set] = {}

        def edges(tok: str) -> dict[str, set]:
            nonlocal deps
            if deps is None:
                if graph is None:
                    raise RegistryError(
                        f"graph selector {tok!r} needs the dependency "
                        "graph (a SparkSession with bound sources)"
                    )
                deps = graph()
                for m, ups in deps.items():
                    for u in ups:
                        children.setdefault(u, set()).add(m)
            return deps

        def walk(start: str, adjacent: dict[str, set]) -> set:
            out, stack = set(), [start]
            while stack:
                n = stack.pop()
                for nxt in adjacent.get(n, ()):
                    if nxt not in out:
                        out.add(nxt)
                        stack.append(nxt)
            return out

        chosen: set = set()
        for tok in tokens:
            # parse the graph operators FIRST so they compose with
            # tag: selectors (dbt: `+tag:x` = tagged models and their
            # ancestors); a tag-first parse would fold the trailing
            # '+' into the tag name and error on a nonexistent tag
            up = tok.startswith("+")
            down = tok.endswith("+")
            core = tok.strip("+")
            if core.startswith("tag:"):
                tag = core[4:]
                targets = [n for n, m in self._models.items() if tag in m.tags]
                if not targets:
                    raise RegistryError(f"no model carries tag {tag!r}")
            else:
                if core not in self._models and core not in self._sources:
                    raise RegistryError(f"unknown model or source {core!r}")
                targets = [core]
            chosen.update(targets)
            for name in targets:
                if up:
                    chosen |= walk(name, edges(tok))
                if down:
                    edges(tok)  # populates children
                    chosen |= walk(name, children)
        # order-preserving dedupe: a name shared by a model AND a
        # source would otherwise appear twice, and per-name consumers
        # (schema_test_report runs BOTH namespaces per occurrence,
        # `ls` prints per entry) would double-execute/double-print it
        out = [n for n in self._models if n in chosen] + [
            s for s in self._sources if s in chosen
        ]
        return list(dict.fromkeys(out))


@dataclass
class Context:
    """One resolution pass: memoizes built DataFrames, applies mocks.

    ``ref()`` is lazy all the way down — nothing executes until the
    caller materializes (collect / write). Cycles are detected by the
    in-progress stack.
    """

    registry: Registry
    spark: SparkSession
    mocks: dict[str, DataFrame] = field(default_factory=dict)
    # run-level project variables (the reference's dbt_project.yml vars:
    # start_year / end_year / focus_countries, :20-26), overridable per
    # run via the CLI --vars — dbt's ``var()`` surface
    vars: dict = field(default_factory=dict)
    _cache: dict[str, DataFrame] = field(default_factory=dict)
    _building: list[str] = field(default_factory=list)
    # model → direct upstream models/sources, harvested as plans build
    # (plan construction is lazy and cheap, so walking every ref gives
    # the dbt dep graph without executing anything)
    deps: dict[str, set] = field(default_factory=dict)
    # probe contexts (dependency_graph edge harvest) adjust refs to
    # the stored-relation schema — see ref()
    _probe: bool = False
    # optional name -> stored DataFrame | None hook for probe contexts
    # (run_models passes a warehouse reader)
    _stored_resolver: "Callable[[str], DataFrame | None] | None" = None

    def _record_edge(self, name: str) -> None:
        if self._building:
            self.deps.setdefault(self._building[-1], set()).add(name)

    def var(self, name: str, default=None):
        """dbt ``var()`` resolution order: run-level override (CLI
        ``--vars`` / API ``vars=``) > project-declared default
        (``Registry.declare_vars``, mirroring dbt_project.yml) >
        call-site default — exactly dbt's layering."""
        if name in self.vars:
            return self.vars[name]
        return self.registry.project_vars.get(name, default)

    def ref(self, name: str) -> DataFrame:
        self._record_edge(name)
        # unit-test given-rows win (OP-TEST-UNIT). Mock keys may be
        # namespaced ('model:x' / 'source:x') to target ONE side of a
        # name shared by a model and a source; a bare key matches both
        # (the common case — dbt's given entries are bare refs too)
        if f"model:{name}" in self.mocks:
            return self.mocks[f"model:{name}"]
        if name in self.mocks:
            return self.mocks[name]
        # cache keys are namespaced: a model and a source may share a
        # bare name (register() and source() each only police their own
        # dict), and a shared key would silently return the wrong frame
        if f"m:{name}" in self._cache:
            return self._cache[f"m:{name}"]
        if name in self._building:
            cycle = " -> ".join(self._building + [name])
            raise RegistryError(f"ref cycle: {cycle}")
        model = self.registry.get(name)
        # REAL-run stored fallback (dbt ref semantics): an UNSELECTED
        # table/incremental/snapshot upstream resolves to its already-
        # materialized warehouse relation, never a fresh recompute —
        # for an incremental that recompute would see only the current
        # batch, silently dropping the accumulated history dbt's ref()
        # reads. run_models passes a resolver that returns None for
        # selected names (those materialize in-run and arrive via
        # set_relation) and for views (a stored view is a stored QUERY;
        # recomputing the plan IS its read semantics). Probe contexts
        # instead build first (edge harvest needs the refs) and swap
        # below.
        if not self._probe and self._stored_resolver is not None:
            stored = self._stored_resolver(name)
            if stored is not None:
                self._cache[f"m:{name}"] = stored
                return stored
        self._building.append(name)
        try:
            df = model.build(self)
        finally:
            self._building.pop()
        if model.contract is not None:
            from ..testing.contracts import enforce_contract

            enforce_contract(df.schema, model.contract, model_name=name)
        if self._probe:
            # PROBE contexts (dependency_graph's throwaway edge
            # harvest) must present refs the way the REAL run will:
            # downstream models ref the STORED relation, whose schema
            # can differ from the raw build frame — a snapshot carries
            # valid_from/valid_to/is_current, and an incremental
            # accumulates append_new_columns from earlier batches — so
            # a downstream plan selecting those columns would fail
            # analysis during the harvest. Edges were already recorded
            # by the build above; swap in the stored relation, or for
            # a not-yet-materialized model its lazy stored shape.
            from ..materialize.run import stored_shape

            stored = (
                self._stored_resolver(name)
                if self._stored_resolver is not None
                else None
            )
            df = stored if stored is not None else stored_shape(model, df)
        self._cache[f"m:{name}"] = df
        return df

    def set_relation(self, name: str, df: DataFrame) -> None:
        """Point later ``ref(name)`` calls at the MATERIALIZED artifact
        (dbt semantics: downstream models read the stored relation —
        for snapshots that includes valid_from/valid_to/is_current,
        which the pre-write recompute does not even have)."""
        self._cache[f"m:{name}"] = df

    def source(self, name: str) -> DataFrame:
        self._record_edge(name)
        # namespaced mock key wins; bare key matches both (see ref())
        if f"source:{name}" in self.mocks:
            return self.mocks[f"source:{name}"]
        if name in self.mocks:
            return self.mocks[name]
        if f"s:{name}" in self._cache:
            return self._cache[f"s:{name}"]
        src = self.registry._sources.get(name)
        if src is None:
            raise RegistryError(f"unknown source {name!r}")
        if src.loader is None:
            raise RegistryError(
                f"source {name!r} is declared but has no bound loader "
                "(bind one with registry.source(name, loader))"
            )
        df = src.loader(self.spark)
        self._cache[f"s:{name}"] = df
        return df
