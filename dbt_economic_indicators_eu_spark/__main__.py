"""Command-line runner — the reference's dbt workflow mapped 1:1.

The reference project is driven by ``dbt run / test / snapshot / seed /
build`` (dbt_project.yml). This CLI exposes the same verbs over the
registry DAG (models/econ.py), so a reference user's muscle memory
carries over:

    python -m dbt_economic_indicators_eu_spark ls
    python -m dbt_economic_indicators_eu_spark seed     --warehouse WH
    python -m dbt_economic_indicators_eu_spark run      --warehouse WH --raw-dir RAW
    python -m dbt_economic_indicators_eu_spark test     --raw-dir RAW
    python -m dbt_economic_indicators_eu_spark snapshot --warehouse WH --raw-dir RAW
    python -m dbt_economic_indicators_eu_spark build    --warehouse WH --raw-dir RAW

``--raw-dir`` holds the extracted source tables as parquet
(``raw_gdp.parquet`` etc. — the output of the reference's
``scripts/extract_eurostat.py``, schemas in FIXTURES.md §1).
``--target``/``--schema`` apply the dev/prod namespace policy
(materialize/run.py:schema_name); ``--select``/``--exclude`` take dbt's
node selectors, resolved by one rule for every verb
(``Invocation.selection``). ``test`` compiles every declared column
test (ModelDef.tests — the reference's yml test declarations) into ONE
unioned Spark plan and exits non-zero on any violation, exactly like
``dbt test``. ``build`` runs seed, run, snapshot, test in that order,
and its stages share one selection: the run stage materializes the
selected non-snapshot models, the snapshot stage the selected
snapshots, and the test stage tests the whole selection.

Each command resolves once: ``--vars`` and the clock, the registry,
the session, the stored-relation resolver and the dependency graph
(harvested only for a graph selector or the docs manifest's edges);
each raw source is read once.
"""

from __future__ import annotations

import argparse
import datetime as dt
import functools
import os
import sys


RAW_SOURCES = ("raw_gdp", "raw_unemployment", "raw_inflation", "raw_population")


def _parse_vars(spec: str | None) -> dict:
    """dbt-style ``--vars``: a JSON/YAML-ish mapping string, e.g.
    ``--vars '{"start_year": 2015, "focus_countries": ["DE", "FR"]}'``.
    JSON is the accepted subset (the reference's vars are all
    JSON-expressible; a YAML parser is not available in-container)."""
    import json

    if not spec:
        return {}
    try:
        out = json.loads(spec)
    except json.JSONDecodeError as exc:
        raise SystemExit(f"--vars must be a JSON mapping: {exc}") from None
    if not isinstance(out, dict):
        raise SystemExit("--vars must be a JSON mapping, e.g. '{\"start_year\": 2015}'")
    if "now" in out:
        # the run-level `now` var is the engine's injectable clock
        # (snapshots + Python-model ports). Validate it HERE so every
        # verb that builds a context rejects a malformed value at the
        # flag — compile/docs/test used to cast it Spark-side, where a
        # bad string becomes a silently-null scored_at (ADVICE r7 #4)
        out["now"] = _coerce_now_var(out["now"])
    return out


def _coerce_now_var(value) -> dt.datetime:
    """Parse a ``now`` clock value (from ``--vars`` or re-validation)
    into a datetime, exiting loudly on anything that is not an ISO
    timestamp."""
    if isinstance(value, dt.datetime):
        return value
    if isinstance(value, str):
        try:
            return dt.datetime.fromisoformat(value)
        except ValueError as exc:
            raise SystemExit(f"--vars now must be an ISO timestamp: {exc}") from None
    raise SystemExit(f"--vars now must be an ISO timestamp string, got {value!r}")


def _resolve_clock(args_now, run_vars: dict) -> None:
    """ONE clock per run: ``--now`` and a ``now`` var are the same
    injectable clock (snapshot valid_from/valid_to, the Python-model
    ports' scored_at/forecast_generated_at, source freshness).
    _parse_vars already coerced the var to a datetime; a conflicting
    pair would silently hand different consumers different clocks
    (ADVICE r7 #3) — reject it instead of picking a winner. A flag-only
    clock is propagated INTO ``run_vars`` so vars consumers agree."""
    if "now" in run_vars:
        if args_now is not None and args_now != run_vars["now"]:
            raise SystemExit(
                f"--now {args_now.isoformat()} conflicts with --vars now "
                f"{run_vars['now'].isoformat()}: one clock per run — pass "
                "either flag, or the same value in both"
            )
    elif args_now is not None:
        run_vars["now"] = args_now


def _warn_unknown_vars(args) -> None:
    """dbt leaves unconsumed vars inert; since round 7 the staging
    filter activates only on its three declared keys (ADVICE r6 #1), so
    a typo'd key no longer silently scopes the DAG — but it also does
    nothing, which deserves a loud hint. ``now`` is the engine's
    injectable clock (snapshots + Python-model ports)."""
    known = set(args.reg.project_vars) | {"now"}
    unknown = sorted(set(args.run_vars) - known)
    if unknown:
        print(f"WARNING  unknown --vars keys (no model consumes them): {unknown}")


def _registry(raw_dir: str | None):
    """The model registry with the raw sources bound to ``raw_dir``.
    Each loader reads its parquet once per registry, i.e. once per
    command, however many stages and probe contexts ask: no verb
    writes under ``--raw-dir``, and the next command builds a new
    registry, so it sees fresh files."""
    from .models.econ import build_registry

    reg = build_registry()
    if raw_dir is not None:
        for name in RAW_SOURCES:
            path = os.path.join(raw_dir, f"{name}.parquet")
            reg.source(name, functools.cache(lambda s, p=path: s.read.parquet(p)))
    return reg


class Invocation(argparse.Namespace):
    """One CLI command: the parsed flags plus what the command resolves
    ONCE, however many stages it runs — the parsed ``--vars``
    (``run_vars``, set by main after the clock check), the registry,
    the session, the warehouse base, the stored-relation resolver and
    the dependency graph. Everything but ``run_vars`` is built on first
    use, so a command that needs no session never starts one."""

    @functools.cached_property
    def reg(self):
        return _registry(self.raw_dir)

    @functools.cached_property
    def spark(self):
        from .session import get_spark

        return get_spark(master=self.master)

    @functools.cached_property
    def base(self) -> str:
        from .materialize.run import warehouse_base

        return warehouse_base(self.warehouse, self.target, self.schema)

    @functools.cached_property
    def stored_resolver(self):
        """Refs of written models resolve to their STORED relations
        (the resolver the run itself uses): a downstream plan may select
        columns that exist only in the warehouse (SCD2 bookkeeping,
        append_new_columns survivors) and would fail analysis against a
        fresh rebuild's schema. It reads at call time, so one resolver
        serves a build's stages before and after its writes."""
        from .materialize.run import make_stored_resolver

        return make_stored_resolver(self.reg, self.spark, self.base)

    @functools.cached_property
    def graph(self) -> dict[str, set]:
        """model → direct upstreams, harvested once per command with the
        run's vars and stored resolver (so a vars-conditional ref gives
        the edge the run takes)."""
        from .plans.registry import RegistryError

        if self.raw_dir is None:
            raise RegistryError(
                "graph selectors (+) need --raw-dir: the dependency graph "
                "is harvested from bound sources"
            )
        return self.reg.dependency_graph(
            self.spark, vars=self.run_vars, stored_resolver=self.stored_resolver
        )

    def selection(self, select) -> list[str] | None:
        """THE dbt ``--select``/``--exclude`` rule, for every verb: the
        nodes (models in declaration order, then sources) the ``select``
        tokens choose — every node when there are none — minus what the
        ``--exclude`` tokens choose, with the same syntax. None when
        neither is given (unscoped). Only a graph operator harvests the
        graph, and only once per command."""
        exclude = self.exclude_nodes or []
        if not select and not exclude:
            return None
        expand = functools.partial(self.reg.expand_selection, graph=lambda: self.graph)
        names = expand(select) if select else [*self.reg.models, *self.reg.sources]
        dropped = set(expand(exclude))
        return [n for n in names if n not in dropped]

    def models_in(self, selection) -> list[str]:
        """The models of a ``selection`` (sources can't be run or
        listed), in declaration order; every model when unscoped."""
        return [n for n in self.reg.models if selection is None or n in selection]


def cmd_ls(args) -> int:
    """dbt ls: list models, honoring --select/--exclude. Plain names
    and tag: selectors resolve without a SparkSession; +/graph
    operators need the dependency graph, hence bound sources
    (--raw-dir)."""
    for name in args.models_in(args.selection(args.select)):
        m = args.reg.get(name)
        tags = f" tags={','.join(m.tags)}" if m.tags else ""
        print(f"{name}  [{m.materialization}]  tests={len(m.tests)}{tags}")
    return 0


def cmd_seed(args) -> int:
    from .models.econ import load_seed

    out = os.path.join(args.warehouse, "country_metadata")
    load_seed(args.spark).write.mode("overwrite").parquet(out)
    print(f"seeded country_metadata -> {out}")
    return 0


def _materialize(args, names: list[str]) -> None:
    """Materialize ``names`` (the run and snapshot stages)."""
    from .materialize.run import run_models

    reg = args.reg
    now = args.run_vars.get("now")
    if now is None and any(reg.get(n).materialization == "snapshot" for n in names):
        # snapshots need a concrete clock for valid_from/valid_to;
        # --now pins it for reproducible runs
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    built = run_models(
        reg,
        args.spark,
        args.warehouse,
        select=names,
        now=now,
        target=args.target,
        schema=args.schema,
        threads=args.threads,
        vars=args.run_vars,
        full_refresh=args.full_refresh,
    )
    for name in built:
        print(f"ran {name}  [{reg.get(name).materialization}]")


def cmd_run(args) -> int:
    """dbt run: the selected models. Bare ``run`` (no --select) skips
    snapshots, which the ``snapshot`` verb owns; an explicit --select
    runs what it names."""
    _warn_unknown_vars(args)
    names = args.models_in(args.selection(args.select))
    _materialize(args, [
        n for n in names
        if args.select or args.reg.get(n).materialization != "snapshot"
    ])
    return 0


def cmd_snapshot(args) -> int:
    _warn_unknown_vars(args)
    names = args.models_in(args.selection(args.select))
    _materialize(args, [
        n for n in names if args.reg.get(n).materialization == "snapshot"
    ])
    return 0


TEST_TYPES = frozenset({"generic", "unit", "singular"})


def cmd_test(args) -> int:
    """dbt test over all three layers the reference uses
    (README:343-348): GENERIC column tests (the yml declarations,
    compiled to one unioned plan), UNIT tests (the dbt 1.8
    ``unit_tests:`` blocks, run on literal given-rows), and SINGULAR
    tests (``tests/*.sql`` — a violations query). ``--select`` accepts
    dbt's ``test_type:unit|generic|singular`` tokens to run one layer,
    and model/graph selectors to scope the generic layer; default runs
    everything, exactly like bare ``dbt test``."""
    tokens = list(args.select or [])
    type_tokens = {t.split(":", 1)[1] for t in tokens if t.startswith("test_type:")}
    unknown_types = type_tokens - TEST_TYPES
    if unknown_types:
        print(f"ERROR  unknown test_type selector(s): {sorted(unknown_types)}")
        return 1
    _warn_unknown_vars(args)
    # dbt selector semantics: no tokens at all = every layer; test_type
    # tokens pick layers; model tokens scope WITHIN each selected layer
    # (a test belongs to the node(s) it attaches to — generic tests to
    # their declaring model, unit tests to their model-under-test, and
    # singular tests to the models they ref: dbt's eager indirect
    # selection runs a singular test when any of its parents is
    # selected — ADVICE r6 #2). Sources stay selectable, so their
    # declared tests run unless excluded themselves.
    select = args.selection([t for t in tokens if not t.startswith("test_type:")])
    return _test(args, select, type_tokens or TEST_TYPES)


def _test(args, select: list[str] | None, run_types) -> int:
    """Run the ``run_types`` test layers over ``select`` (None =
    unscoped); exit status 1 on any failure."""
    import shutil

    from .materialize.incremental import open_stored
    from .materialize.run import stored_shape
    from .testing.schedule import run_schema_tests

    reg, spark, base = args.reg, args.spark, args.base
    # same vars as the run that built the warehouse: views/unbuilt
    # models ref-recompute through this context, and mixing an
    # unscoped recompute with vars-scoped artifacts would test
    # different relations than the run materialized. The context also
    # resolves refs to WRITTEN upstreams from the warehouse (dbt ref
    # semantics): a view under test that refs an incremental must see
    # its accumulated stored relation, not a single-batch recompute.
    ctx = reg.context(spark, vars=args.run_vars, stored_resolver=args.stored_resolver)

    @functools.cache
    def resolve(name):
        """dbt test checks the MATERIALIZED relation: prefer the
        warehouse artifact a prior run/build wrote (a merge defect
        accumulated there must fail the test even though a fresh
        recompute would pass); views/unbuilt models fall back to
        ref-recompute, which is also dbt's behavior for views. The
        path mirrors cmd_run's target/schema namespace policy. A
        rowless artifact (e.g. a vars-scoped run over an empty slice)
        reads with its stored shape's schema. Memoized: a model with
        several declarations is opened once per verb, which is safe
        because nothing writes a model path during ``test`` (stored
        failures land under dbt_test__audit)."""
        return open_stored(
            spark, os.path.join(base, name),
            lambda: stored_shape(reg.get(name), ctx.ref(name)).schema,
        )

    n_pass = n_total = 0
    ok = True

    store = args.store_failures
    audit_base = os.path.join(base, "dbt_test__audit")
    # dbt drops/recreates each EXECUTED test's audit relation; a scoped
    # `--store-failures` run must not delete violation relations for
    # tests outside the selection (ADVICE r7 #1). "Scoped" means model
    # tokens/excludes OR a test_type selection: both the generic and
    # singular layers store relations, so `--select test_type:generic`
    # must not wipe the singular layer's stored violations (review r8).
    # Only a fully unscoped run recreates the whole schema (which also
    # clears relations for tests that no longer exist); scoped runs
    # prune per executed test instead — a previously-failing
    # now-passing test must not leave stale violation rows that read
    # as current.
    audit_scoped = select is not None or not {"generic", "singular"} <= run_types
    if store and not audit_scoped:
        shutil.rmtree(audit_base, ignore_errors=True)

    if "generic" in run_types:
        # decl ids let --store-failures attribute a failure to its
        # EXACT declaration (sibling tests sharing a column) with no
        # probe jobs; the extra column is internal — the oracle-pinned
        # 4-column report shape belongs to q_schema_test_suite
        g_ok, rows = run_schema_tests(reg, ctx, select, resolve, with_decl_ids=True)
        ok &= g_ok
        for r in rows:
            status = "PASS" if r["violations"] == 0 else f"FAIL ({r['violations']} violations)"
            print(f"{status}  {r['model']}.{r['column']} {r['test']}")
        n_pass += sum(r["violations"] == 0 for r in rows)
        n_total += len(rows)
        failed = [r for r in rows if r["violations"] != 0]
        if store and audit_scoped:
            # scoped run: drop only the EXECUTED tests' audit relations
            # (incl. any __N declaration suffixes) so a now-passing
            # selected test leaves no stale rows while unselected
            # tests' relations survive, like dbt
            import glob as _glob

            from .testing.schedule import audit_relation_globs

            for r in rows:
                for pat in audit_relation_globs(r["model"], r["column"], r["test"]):
                    # escape the BASE too: a warehouse path containing
                    # glob metacharacters ('[', '*') must not make the
                    # prune silently match nothing and leave stale rows
                    for p in _glob.glob(os.path.join(_glob.escape(audit_base), pat)):
                        shutil.rmtree(p, ignore_errors=True)
        if store and failed:
            # dbt --store-failures: violation rows land as audit
            # relations (unit-test diffs are printed, not stored —
            # they compare literal given-rows, not warehouse data)
            from .testing.schedule import store_test_failures

            for p in store_test_failures(reg, ctx, failed, audit_base, resolve):
                print(f"stored failures -> {p}")

    if "unit" in run_types:
        from .models.unit_tests import run_reference_unit_tests

        # model selectors scope unit tests to their model-under-test
        # (dbt attaches a unit test to its `model:`)
        unit_models = set(select) if select is not None else None
        for r in run_reference_unit_tests(reg, spark, models=unit_models):
            status = "PASS" if r["passed"] else "FAIL"
            print(f"{status}  {r['model']} unit:{r['name']}")
            if not r["passed"]:
                print(f"       {r['detail']}")
            ok &= r["passed"]
            n_pass += r["passed"]
            n_total += 1

    if "singular" in run_types:
        for name in reg.singular_tests:
            # model scoping: run when any ref'd node intersects the
            # selection (dbt eager indirect selection); the deps
            # harvest memoizes the violations frame, so the count below
            # reuses the same built plan
            if select is not None and not (
                reg.singular_test_deps(ctx, name) & set(select)
            ):
                continue
            frame = reg.singular_test_frame(ctx, name)
            violations = frame.count()
            passed = violations == 0
            if store and audit_scoped:
                # executed in a scoped run: drop the stale relation so
                # a now-passing singular test leaves no violation rows
                # that read as current (same contract as the generic
                # layer's per-executed pruning)
                shutil.rmtree(os.path.join(audit_base, name), ignore_errors=True)
            if store and not passed:
                p = os.path.join(audit_base, name)
                frame.write.mode("overwrite").parquet(p)
                print(f"stored failures -> {p}")
            status = "PASS" if passed else f"FAIL ({violations} violations)"
            print(f"{status}  singular:{name}")
            ok &= passed
            n_pass += passed
            n_total += 1

    print(f"{n_pass} of {n_total} tests passed")
    return 0 if ok else 1


def cmd_docs(args) -> int:
    """``dbt docs generate`` equivalent: manifest.json with every model
    (materialization, keys, tags, declared tests, contract, partition
    layout, upstream deps) and source (freshness policy, tests), plus
    the descriptions/column docs/meta the reference keeps in its yml
    patch files (``models.docs`` transcribes them). Deps need bound
    sources (--raw-dir); without them the manifest ships without
    edges. ``--select`` limits the emitted model nodes (dbt's
    ``docs generate --select``); sources always ship — they are the
    lineage roots."""
    import json

    from .models.docs import DOC_BLOCKS, MODEL_DOCS, SOURCE_DOCS, SOURCE_GROUP_DOC
    from .models.semantic import METRICS

    reg = args.reg
    _warn_unknown_vars(args)
    # the same graph the selection expands over; without bound sources
    # the manifest ships without edges
    deps = args.graph if args.raw_dir is not None else {}
    emitted = set(args.models_in(args.selection(args.select)))

    def model_node(name, m):
        doc = MODEL_DOCS.get(name, {})
        return {
            "materialization": m.materialization,
            "unique_key": m.unique_key,
            "watermark_col": m.watermark_col,
            "partition_by": m.partition_by,
            "check_cols": list(m.check_cols),
            "tags": list(m.tags),
            "tests": [list(t) for t in m.tests],
            "contract": (
                {f.name: f.dataType.simpleString() for f in m.contract.fields}
                if m.contract is not None
                else None
            ),
            "description": doc.get("description", ""),
            "columns": doc.get("columns", {}),
            "meta": doc.get("meta", {}),
            # under --select, edges are pruned to nodes present in THIS
            # manifest (emitted models + sources, which always ship) —
            # a lineage consumer resolving depends_on against the
            # manifest must never hit a dangling reference
            "depends_on": [
                d for d in sorted(deps.get(name, ()))
                if d in emitted or d in reg.sources
            ],
        }

    manifest = {
        "models": {
            name: model_node(name, m)
            for name, m in reg.models.items()
            if name in emitted
        },
        "sources": {
            name: {
                "loaded_at_field": s.loaded_at_field,
                "warn_after_days": s.warn_after_days,
                "error_after_days": s.error_after_days,
                "tests": [list(t) for t in s.tests],
                "bound": s.loader is not None,
                "description": SOURCE_DOCS.get(name, {}).get("description", ""),
                "columns": SOURCE_DOCS.get(name, {}).get("columns", {}),
                "source_group": SOURCE_GROUP_DOC,
            }
            for name, s in reg.sources.items()
        },
        # _parse_vars coerces a `now` var to datetime; the manifest is
        # JSON, so clocks go back out as ISO strings
        "vars": {
            k: v.isoformat() if isinstance(v, dt.datetime) else v
            for k, v in {**reg.project_vars, **args.run_vars}.items()
        },
        # reusable dbt doc blocks (reference docs/overview.md)
        "docs": DOC_BLOCKS,
        # semantic-layer metric nodes (reference README.md:226-258;
        # definitions in models/semantic.py, queried via query_metrics)
        "metrics": {
            m.name: {
                "description": m.description,
                "grain": m.grain,
                "type": (
                    "simple" if m.measure is not None
                    else "cumulative" if m.window_derive is not None
                    else "derived"
                ),
            }
            for m in METRICS.values()
        },
    }
    os.makedirs(args.warehouse, exist_ok=True)
    path = os.path.join(args.warehouse, "manifest.json")
    with open(path, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    print(f"wrote {path}")

    # dbt docs generate also emits catalog.json — the WAREHOUSE side:
    # actual column types and row counts of materialized relations (the
    # manifest is the declared side; the catalog is what a prior run
    # actually wrote). ALWAYS rewritten alongside the manifest — a
    # docs run that refreshed one artifact but not the other would
    # leave a silently disagreeing pair — and ALWAYS over every model
    # (never the --select subset): the catalog documents warehouse
    # state, and a scoped docs run must not shrink it below what the
    # warehouse still contains. The catalog lives UNDER THE TARGET BASE
    # (warehouse_base — beside the relations it describes), so a docs
    # run against one target/schema can never erase the catalog a run
    # recorded for another (ADVICE r6 #5). Rowless-but-materialized
    # relations (a vars-scoped run over an empty slice) are cataloged
    # with row_count 0, not omitted as unbuilt: schema comes from the
    # stored-relation derivation when sources are bound (--raw-dir),
    # else from the previous catalog entry if one exists (a no-raw-dir
    # refresh must not erase a schema a bound run already recorded),
    # else an empty mapping (honestly unknown, but iterable — a
    # consumer walking columns must not trip over null; ADVICE r6 #4).
    from .materialize.incremental import open_stored
    from .materialize.run import stored_shape

    base = args.base
    cpath = os.path.join(base, "catalog.json")
    previous: dict = {}
    # read-side legacy fallback: catalogs written before the
    # namespacing change lived at the warehouse ROOT even for
    # schema-namespaced runs — a first post-upgrade docs run must not
    # lose schemas that root catalog recorded
    legacy_cpath = os.path.join(args.warehouse, "catalog.json")
    for candidate in (cpath, legacy_cpath):
        if os.path.exists(candidate):
            try:
                with open(candidate) as f:
                    previous = json.load(f)
                break
            except (OSError, json.JSONDecodeError):
                previous = {}
    catalog: dict = {}
    candidates = [n for n in reg.models if os.path.isdir(os.path.join(base, n))]
    if candidates:
        spark = args.spark
        # the schema-derivation context resolves refs to STORED
        # relations like cmd_test's does (ADVICE r6 #4): a rowless
        # model whose plan refs an incremental with accumulated
        # append_new_columns must derive the accumulated schema, not a
        # single-batch recompute (which could even fail analysis)
        ctx = (
            reg.context(spark, vars=args.run_vars, stored_resolver=args.stored_resolver)
            if args.raw_dir is not None
            else None
        )
        for name in candidates:
            # None here is a rowless relation: candidates are directories
            df = open_stored(spark, os.path.join(base, name))
            if df is not None:
                catalog[name] = {
                    "columns": {
                        f.name: f.dataType.simpleString() for f in df.schema.fields
                    },
                    "row_count": df.count(),
                }
            else:
                if ctx is not None:
                    schema = stored_shape(reg.get(name), ctx.ref(name)).schema
                    columns = {
                        f.name: f.dataType.simpleString() for f in schema.fields
                    }
                else:
                    columns = (previous.get(name) or {}).get("columns") or {}
                catalog[name] = {"columns": columns, "row_count": 0}
    os.makedirs(base, exist_ok=True)
    with open(cpath, "w") as f:
        json.dump(catalog, f, indent=2, sort_keys=True)
    print(f"wrote {cpath} ({len(catalog)} cataloged relations)")
    return 0


def cmd_compile(args) -> int:
    """``dbt compile`` analogue for a Spark engine: print each selected
    model's OPTIMIZED Catalyst plan (what the reference shows as
    compiled SQL, this engine shows as the logical plan Catalyst will
    execute)."""
    _warn_unknown_vars(args)
    ctx = args.reg.context(args.spark, vars=args.run_vars)
    for name in args.models_in(args.selection(args.select)):
        df = ctx.ref(name)
        print(f"-- model: {name}")
        print(df._jdf.queryExecution().optimizedPlan().toString())
    return 0


def cmd_source_freshness(args) -> int:
    from .testing.schedule import source_freshness_report

    now = args.run_vars.get("now") or dt.datetime.now(dt.timezone.utc).replace(
        tzinfo=None
    )
    rows = source_freshness_report(
        args.reg, args.reg.context(args.spark), now
    ).collect()
    if not rows:
        # dbt errors when no source declares freshness; exiting 0 with
        # empty output would let a CI gate pass while monitoring
        # nothing (e.g. --raw-dir forgotten, so no loaders are bound)
        print("ERROR  no sources with freshness configured (missing --raw-dir?)")
        return 1
    any_error = False
    for r in rows:
        print(
            f"{r['freshness_status'].upper():5}  {r['source']}  "
            f"max_loaded_at={r['max_loaded_at']}  days_stale={r['days_stale']}"
        )
        any_error |= r["freshness_status"] == "error"
    return 1 if any_error else 0


def cmd_build(args) -> int:
    """dbt build: seed, run, snapshot, test, over ONE selection.
    Materializations run BEFORE tests (dbt's DAG order: a test on a
    snapshot model must see the materialized relation with its
    validity columns, not a ref-recompute), and a failed stage raises
    before the next starts — testing a stale warehouse after a failed
    run masks the original failure with misleading FAIL rows.
    Snapshots materialize only in the snapshot stage: running them in
    the run stage too would merge twice with two different auto-filled
    clocks. The test stage tests the whole selection, sources
    included. main has validated --vars and the clock pair, and the
    selection is resolved here, so a bad selector aborts before the
    seed stage writes anything."""
    _warn_unknown_vars(args)
    select = args.selection(args.select)
    models = args.models_in(select)
    snapshots = [n for n in models if args.reg.get(n).materialization == "snapshot"]
    cmd_seed(args)
    _materialize(args, [n for n in models if n not in snapshots])
    _materialize(args, snapshots)
    return _test(args, select, TEST_TYPES)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbt_economic_indicators_eu_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for cmd in (
        "ls", "seed", "run", "test", "snapshot", "build",
        "source-freshness", "docs", "compile",
    ):
        sp = sub.add_parser(cmd)
        sp.add_argument("--warehouse", default="warehouse")
        sp.add_argument("--raw-dir", default=None)
        sp.add_argument("--select", nargs="+", default=None)
        sp.add_argument(
            "--exclude",
            nargs="+",
            default=None,
            dest="exclude_nodes",
            help="dbt --exclude: graph selectors subtracted from the "
            "selection (same syntax as --select)",
        )
        sp.add_argument("--target", default="prod")
        sp.add_argument("--schema", default=None)
        sp.add_argument("--master", default=None)
        sp.add_argument(
            "--now",
            type=dt.datetime.fromisoformat,
            default=None,
            help="injectable clock for snapshots (ISO timestamp)",
        )
        sp.add_argument(
            "--threads",
            type=int,
            default=4,
            help="node-level materialization concurrency "
            "(reference profiles.yml:11 dev threads: 4); 1 = serial",
        )
        sp.add_argument(
            "--vars",
            default=None,
            help="run-level project variables as a JSON mapping "
            "(reference dbt_project.yml:20-26: start_year, end_year, "
            "focus_countries)",
        )
        sp.add_argument(
            "--full-refresh",
            action="store_true",
            help="dbt run --full-refresh: incremental models "
            "drop-and-rebuild from their current plan instead of "
            "merging (snapshots keep their history, like dbt)",
        )
        sp.add_argument(
            "--store-failures",
            action="store_true",
            help="dbt test --store-failures: persist each failing "
            "test's violation rows as audit relations under "
            "<warehouse base>/dbt_test__audit/",
        )
    args = p.parse_args(argv, namespace=Invocation())
    # one-clock contract, enforced for EVERY verb before dispatch: a
    # malformed --vars or a conflicting --now / vars-now pair never
    # runs anything; the verbs read the resolved vars from here
    args.run_vars = _parse_vars(args.vars)
    _resolve_clock(args.now, args.run_vars)
    from .plans.registry import RegistryError

    try:
        return {
            "ls": cmd_ls,
            "seed": cmd_seed,
            "run": cmd_run,
            "test": cmd_test,
            "snapshot": cmd_snapshot,
            "build": cmd_build,
            "source-freshness": cmd_source_freshness,
            "docs": cmd_docs,
            "compile": cmd_compile,
        }[args.cmd](args)
    except RegistryError as e:
        # selector/model-name errors are user input errors, not
        # engine crashes — a clean line and exit 1, never a traceback
        print(f"ERROR  {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
