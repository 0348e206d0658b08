#!/usr/bin/env python3
"""Benchmark of the repository's two product surfaces.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see METHODOLOGY.md):

- ``arrow_stream``: ``__spark_entry__.queries()`` entries that cross
  into Python workers, plus a Structured Streaming available-now drain;
- ``econ_dag``: incremental cycles and a full-refresh build of the econ
  DAG through the CLI verbs.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries
the run's noise context and workload-specific figures. ``--trace 1``
reports per-layer metrics instead of end-to-end ones.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import atexit  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import proc  # noqa: E402

# Fixed workload membership, chosen once from measured per-query costs
# at the time the benchmark was written (see METHODOLOGY.md); never
# recomputed per run.
ARROW_STREAM = ("simhash", "stream_stateful_totals")
# scale of the generated tables (events = 1e6 x SF rows)
SF = 0.1
DATA_SEED = 42
# the econ DAG slice every verb selects: the incremental fact and the
# SCD2 snapshot
DAG_SELECT = ("fct_economic_indicators", "snap_gdp_history")
# fixed warm-up iterations run in set-up, and the least number of timed
# iterations per run
WARM_PASSES = {"arrow_stream": 1, "econ_dag": 1}
MIN_PASSES = {"arrow_stream": 3, "econ_dag": 4}

CONTRACT_LAYERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "jvm.jit_s", "jvm.classes_loaded", "jvm.gc_s",
    "jvm.gc_count", "trace.overhead_s",
)
UNITS = {"_s": "s", "_bytes": "bytes"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    """Shared state of one benchmark process: scratch, session, counts."""

    def __init__(self, args):
        self.args = args
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.spans = None
        self.progress = None
        base = os.path.join(ROOT, ".perfbench_scratch")
        _sweep_dead(base)
        self.scratch = os.path.join(base, f"run-{os.getpid()}")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(os.path.join(self.scratch, "tmp"))
        self.event_dir = os.path.join(self.scratch, "eventlog")
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase for the run's noise context."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")
        return ok

    def start_session(self):
        tmp = os.path.join(self.scratch, "tmp")
        # deployment settings only: core count, scratch locations and
        # the import path the Python workers need
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {
            "spark.local.dir": os.path.join(self.scratch, "spark"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            import layers

            conf.update(layers.event_log_conf(self.event_dir))
        from dbt_economic_indicators_eu_spark.session import get_spark

        self.spark = get_spark(extra_conf=conf)
        if self.trace:
            import layers

            self.spans = layers.Spans()
            self.spans.install()
            self.progress = layers.make_progress_log(self.spark)
        return self.spark

    def jvm_totals(self) -> dict:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        gc_ms = gc_n = 0
        for bean in mf.getGarbageCollectorMXBeans():
            gc_ms += bean.getCollectionTime()
            gc_n += bean.getCollectionCount()
        return {
            "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
            "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
            "gc_s": gc_ms / 1000.0,
            "gc_count": gc_n,
        }

    def set_tracing(self, on: bool) -> None:
        if not self.trace or self.spans.enabled == on:
            return
        self.spans.enabled = on
        if on:
            self.spark.streams.addListener(self.progress)
        else:
            self.spark.streams.removeListener(self.progress)

    def describe(self, text: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobDescription(text)

    def stop(self) -> None:
        """Stop Spark, the JVM and every process below this one."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            with contextlib.suppress(Exception):
                self.spark.stop()
            jvm = getattr(gateway, "proc", None) if gateway else None
            with contextlib.suppress(Exception):
                gateway.shutdown()
            if jvm is not None:
                with contextlib.suppress(Exception):
                    jvm.stdin.close()  # the gateway JVM exits on EOF
                try:
                    jvm.wait(timeout=30)
                except Exception:
                    jvm.kill()
                    jvm.wait()
            self.spark = None
        _reap_descendants()

    def cleanup(self) -> None:
        self.stop()
        shutil.rmtree(self.scratch, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.scratch))


def _sweep_dead(base: str) -> None:
    """Remove scratch left by runs whose process is gone."""
    if not os.path.isdir(base):
        return
    for entry in os.listdir(base):
        pid = entry.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)


def _reap_descendants(timeout: float = 20.0) -> None:
    deadline = time.time() + timeout
    while True:
        kids = proc.descendants()
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        time.sleep(0.2)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# query workloads


class QueryWorkload:
    """A fixed list of ``queries()`` entries over generated tables, each
    materialized through the noop sink, with an interleaved DuckDB pass
    over the same list's oracle SQL."""

    def __init__(self, run: Run, name: str, names):
        self.run = run
        self.name = name
        order = list(names)
        random.Random(run.args.seed).shuffle(order)
        self.order = order
        self.data = os.path.join(run.scratch, "data")
        self.passes: list[dict] = []

    def setup(self):
        import duckdb
        import star_data

        with self.run.phase("data_s"):
            star_data.write_tables(self.data, SF, seed=DATA_SEED)
        with self.run.phase("session_s"):
            spark = self.run.start_session()
        import __spark_entry__ as entry

        builders = entry.queries()
        self.builders = {n: builders[n] for n in self.order}
        oracles = entry.oracle_sql()
        self.oracles = {n: oracles[n] for n in self.order if n in oracles}
        self.duck = duckdb.connect()
        self.duck.execute(f"SET threads={self.run.cpus}")
        for t in star_data.TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        # the fixed warm-up: every query once, checked against its
        # oracle, on both engines
        with self.run.phase("verify_s"):
            for name in self.order:
                self.run.check(self.verify(spark, name), f"{name} differs from its oracle")
        with self.run.phase("warm_s"):
            for i in range(WARM_PASSES[self.name]):
                self.spark_pass(tag=f"warm{i}")
                self.oracle_pass()

    def verify(self, spark, name) -> bool:
        import pandas as pd
        from tools.check_oracle import normalize

        try:
            got = self.builders[name](spark, self.data).toPandas()
        except Exception:
            traceback.print_exc()
            return False
        if name not in self.oracles:
            log(f"{name}: no oracle to check it against")
            return False
        want = self.duck.execute(self.oracles[name]).fetchdf()
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            return False
        try:
            pd.testing.assert_frame_equal(
                normalize(got), normalize(want),
                check_dtype=False, check_exact=False, rtol=0, atol=1e-9)
        except AssertionError as exc:
            log(f"{name}: {str(exc)[:300]}")
            return False
        return True

    def spark_pass(self, tag: str) -> dict:
        spark, run = self.run.spark, self.run
        out = {"query_s": {}, "build_s": 0.0, "action_s": 0.0, "ops": []}
        for name in self.order:
            run.describe(f"{tag}:{name}")
            start = time.time()
            t0 = time.perf_counter()
            try:
                df = self.builders[name](spark, self.data)
                t1 = time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                ok = True
            except Exception:
                traceback.print_exc()
                t1, ok = t0, False
            t2 = time.perf_counter()
            run.check(ok, f"{name} raised in pass {tag}")
            out["query_s"][name] = t2 - t0
            out["build_s"] += t1 - t0
            out["action_s"] += t2 - t1
            out["ops"].append((start, time.time()))
        return out

    def oracle_pass(self) -> dict[str, float]:
        times = {}
        for name in self.order:
            if name in self.oracles:
                t0 = time.perf_counter()
                self.duck.execute(self.oracles[name]).arrow()
                times[name] = time.perf_counter() - t0
        return times

    def iteration(self, i: int, traced: bool) -> dict:
        cpu0 = proc.tree_cpu()
        start = time.time()
        t0 = time.perf_counter()
        sp = self.spark_pass(tag=f"timed{i}")
        wall = time.perf_counter() - t0
        end = time.time()
        cpu1 = proc.tree_cpu()
        oracle = self.oracle_pass()
        covered = sum(sp["query_s"][n] for n in oracle)
        rec = {
            "wall_s": wall,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "pyworker_cpu_s": cpu1["python_workers"] - cpu0["python_workers"],
            "oracle_s": sum(oracle.values()),
            "oracle_ratio": covered / sum(oracle.values()) if oracle else 0.0,
            "window": (start, end),
            "ops": sp["ops"],
            "build_s": sp["build_s"],
            "action_s": sp["action_s"],
            "query_s": sp["query_s"],
            "traced": traced,
        }
        self.passes.append(rec)
        return rec

    def finish(self, traced: bool) -> None:
        pass

    def pass_s(self, passes) -> float:
        """One pass over the list, from each query's median time: a
        stall that hits one query in one pass does not move it."""
        return sum(median([p["query_s"][n] for p in passes]) for n in self.order)

    def summary(self, passes) -> dict:
        return {
            "oracle_ratio": {"value": median([p["oracle_ratio"] for p in passes]), "unit": "x"},
            "oracle.pass_s": {"value": median([p["oracle_s"] for p in passes]), "unit": "s"},
            **{f"query.{n}_s": {"value": median([p["query_s"][n] for p in passes]), "unit": "s"}
               for n in self.order},
        }

    def layers(self, p) -> dict:
        return {
            "queries.build_s": p["build_s"],
            "queries.action_s": p["action_s"],
            "oracle.pass_s": p["oracle_s"],
        }


# --------------------------------------------------------------------------
# econ DAG workload


class EconDagWorkload:
    """The econ DAG through ``__main__.main`` verbs on seeded raw
    extracts. Set-up runs a cold ``build`` and one cycle, the fixed
    warm-up. Each timed iteration is one incremental cycle: append a
    month and a few GDP revisions, then ``run`` -> ``snapshot`` ->
    ``test``. After the cycles, one ``build --full-refresh`` into an
    empty warehouse is timed on its own."""

    def __init__(self, run: Run):
        self.run = run
        self.raw_dir = os.path.join(run.scratch, "raw")
        self.wh = os.path.join(run.scratch, "warehouse")
        self.passes: list[dict] = []
        self.ops: list[tuple[float, float]] = []
        self.verb_s: dict[str, float] = {}
        self.day = 0
        self.snap_versions = 0
        self.build: dict = {}

    def verb(self, *argv) -> bool:
        from dbt_economic_indicators_eu_spark.__main__ import main

        self.run.describe(f"verb:{argv[0]}")
        buf = io.StringIO()
        start = time.time()
        try:
            with contextlib.redirect_stdout(buf):
                rc = main(list(argv))
        except Exception:
            traceback.print_exc()
            rc = -1
        end = time.time()
        self.ops.append((start, end))
        self.verb_s[argv[0]] = end - start
        if rc != 0:
            sys.stderr.write(buf.getvalue()[-3000:])
        return self.run.check(rc == 0, f"{argv[0]} returned {rc}")

    def _args(self, wh):
        # one day later per cycle: each snapshot run gets a later clock
        now = f"2024-{3 + self.day // 28:02d}-{1 + self.day % 28:02d}T00:00:00"
        return ["--warehouse", wh, "--raw-dir", self.raw_dir, "--now", now]

    def setup(self):
        from econ_data import RawExtracts

        with self.run.phase("data_s"):
            self.raw = RawExtracts(self.raw_dir, self.run.args.seed)
            self.raw.write_initial()
        with self.run.phase("session_s"):
            self.run.start_session()
        with self.run.phase("cold_build_s"):
            self.verb("build", *self._args(self.wh), "--select", *DAG_SELECT)
        self.snap_versions = self.raw.gdp_keys()
        with self.run.phase("warm_s"):
            for _ in range(WARM_PASSES["econ_dag"]):
                self.cycle()

    def cycle(self) -> None:
        self.day += 1
        self.snap_versions += self.raw.advance()
        args = self._args(self.wh)
        self.verb("run", *args, "--select", "fct_economic_indicators")
        self.verb("snapshot", *args)
        self.verb("test", *args, "--select", *DAG_SELECT)

    def check_tables(self, wh, snap_rows: int) -> None:
        """Per-model row counts against what the generator wrote."""
        expect = {
            "fct_economic_indicators": len(self.raw.geos) * self.raw.months,
            "snap_gdp_history": snap_rows,
        }
        for model, rows in expect.items():
            try:
                got = self.run.spark.read.parquet(os.path.join(wh, model)).count()
            except Exception:
                traceback.print_exc()
                got = None
            self.run.check(got == rows, f"{model} has {got} rows, expected {rows}")

    def _timed(self, fn, traced: bool, wh: str) -> dict:
        self.ops, self.verb_s = [], {}
        cpu0 = proc.tree_cpu()
        start = time.time()
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        end = time.time()
        cpu1 = proc.tree_cpu()
        rec = {
            "wall_s": wall,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "pyworker_cpu_s": cpu1["python_workers"] - cpu0["python_workers"],
            "window": (start, end),
            "ops": self.ops,
            "verb_s": self.verb_s,
            "traced": traced,
        }
        if traced:
            import layers

            rec["files"], rec["bytes"] = layers.files_written(wh, start, end)
        return rec

    def iteration(self, i: int, traced: bool) -> dict:
        rec = self._timed(self.cycle, traced, self.wh)
        self.passes.append(rec)
        return rec

    def finish(self, traced: bool) -> None:
        # row counts are cumulative, so one check after the last cycle
        # covers the cold build and every cycle
        self.check_tables(self.wh, self.snap_versions)
        fresh = os.path.join(self.run.scratch, "full-refresh")
        self.run.set_tracing(traced)
        self.build = self._timed(lambda: self.verb(
            "build", "--full-refresh", *self._args(fresh), "--select", *DAG_SELECT), traced, fresh)
        self.run.set_tracing(False)
        self.check_tables(fresh, self.raw.gdp_keys())

    def pass_s(self, passes) -> float:
        """One cycle, from each verb's median time: a stall that hits
        one verb in one cycle does not move it."""
        return sum(median([p["verb_s"][v] for p in passes]) for v in passes[0]["verb_s"])

    def summary(self, passes) -> dict:
        return {
            "cycle_s": {"value": median([p["wall_s"] for p in passes]), "unit": "s"},
            "build_s": {"value": self.build["wall_s"], "unit": "s"},
            "build_cpu_s": {"value": self.build["cpu_s"], "unit": "s"},
            **{f"verb.{v}_s": {"value": median([p["verb_s"][v] for p in passes]), "unit": "s"}
               for v in passes[0]["verb_s"]},
        }

    def layers(self, p) -> dict:
        return {
            "materialize.files_written": p.get("files", 0),
            "materialize.bytes_written": p.get("bytes", 0),
            "materialize.build_files_written": self.build.get("files", 0),
            "materialize.build_bytes_written": self.build.get("bytes", 0),
        }


# --------------------------------------------------------------------------


def layer_metrics(run: Run, wl, traced_passes, setup_jvm) -> dict:
    import layers

    log_data = layers.read_event_log(run.event_dir)
    per_pass = []
    for p in traced_passes:
        lo, hi = p["window"]
        spans = run.spans.between(lo, hi)
        m = layers.fold_spark(log_data, p["window"], p["ops"])
        m.update(layers.fold_streaming(run.progress.progress, spans))
        m.update(layers.fold_dag(spans))
        m.update(wl.layers(p))
        m["pyworker.cpu_s"] = p["pyworker_cpu_s"]
        m["jvm.gc_s"] = p["gc_s"]
        m["jvm.gc_count"] = p["gc_count"]
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out["jvm.jit_s"] = setup_jvm["jit_s"]
    out["jvm.classes_loaded"] = setup_jvm["classes_loaded"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("arrow_stream", "econ_dag"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("__spark_entry__.py", "dbt_economic_indicators_eu_spark/__main__.py",
                 "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found under {ROOT}: run from a checkout of the repository")
            return 2
    sys.path.insert(0, ROOT)

    run = Run(args)
    atexit.register(run.cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.chdir(run.scratch)  # spark-warehouse and other cwd-relative output

    if args.workload == "econ_dag":
        wl = EconDagWorkload(run)
    else:
        wl = QueryWorkload(run, "arrow_stream", ARROW_STREAM)

    wl.setup()
    setup_jvm = run.jvm_totals()
    steal0 = proc.cpu_jiffies()
    setup_s = time.perf_counter() - T0

    # timed window: at least MIN_PASSES iterations and --seconds of wall
    # time. A traced run interleaves untraced and traced iterations as
    # U T T U ..., so the difference of their estimates is the tracing
    # overhead, and a linear warm-up trend cancels out of it.
    t_start = time.perf_counter()
    i = 0
    min_passes = 4 if run.trace else MIN_PASSES[args.workload]
    while i < min_passes or (
            time.perf_counter() - t_start < args.seconds):
        traced = run.trace and i % 4 in (1, 2)
        run.set_tracing(traced)
        jvm0 = run.jvm_totals() if traced else None
        rec = wl.iteration(i, traced)
        if traced:
            jvm1 = run.jvm_totals()
            rec["gc_s"] = jvm1["gc_s"] - jvm0["gc_s"]
            rec["gc_count"] = jvm1["gc_count"] - jvm0["gc_count"]
        run.set_tracing(False)
        i += 1
    end_jvm = run.jvm_totals()
    wl.finish(run.trace)
    timed_s = time.perf_counter() - t_start
    steal1 = proc.cpu_jiffies()

    plain = [p for p in wl.passes if not p["traced"]]
    traced = [p for p in wl.passes if p["traced"]]
    pass_s = wl.pass_s(plain)
    noise = {
        "seed": args.seed,
        "nproc": run.cpus,
        "steal_pct": proc.steal_pct(steal0, steal1),
        "loadavg": proc.loadavg(),
        "timed_s": timed_s,
        "passes": len(wl.passes),
        "pass_walls": [round(p["wall_s"], 3) for p in wl.passes],
        "pass_cpus": [round(p["cpu_s"], 3) for p in wl.passes],
        "setup_phases": run.phases,
        "jvm_after_setup": setup_jvm,
        "jvm_after_iterations": end_jvm,
    }
    summary = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s"},
        "cpu_s": {"value": median([p["cpu_s"] for p in plain]), "unit": "s"},
        **wl.summary(plain),
        "failed_frac": {"value": run.failed / max(1, run.attempted), "unit": "ratio"},
    }
    if run.trace:
        run.stop()  # closes the event log
        per_layer = layer_metrics(run, wl, traced, setup_jvm)
        per_layer["trace.overhead_s"] = wl.pass_s(traced) - pass_s
        metrics = {k: {"value": per_layer[k], "unit": unit_of(k)} for k in CONTRACT_LAYERS}
        print("perfbench spans: " + json.dumps(run.spans.spans), file=sys.stderr)
        detail = {"layers": {k: {"value": v, "unit": unit_of(k)}
                             for k, v in sorted(per_layer.items())}}
    else:
        metrics = {k: summary[k] for k in ("setup_s", "pass_s", "cpu_s")}
        detail = {}
    print(json.dumps({"workload": args.workload, "trace": args.trace,
                      "summary": summary, **detail, "noise": noise}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
