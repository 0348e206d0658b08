"""Traced mode: per-layer timing without touching the package.

Everything here is installed only by ``run.py --trace 1``:

- ``Spans``: wrappers around public functions of each layer, patched
  under the module name their callers look them up by, recording
  (name, start, end, parent) in memory (``run.py`` writes them to
  stderr at the end of a traced run);
- ``ProgressLog``: a ``StreamingQueryListener`` that keeps every
  micro-batch progress report;
- ``event_log_conf`` / ``fold_event_log``: Spark's own event log
  (uncompressed, non-rolling JSON lines), folded into job, stage and
  task totals per timed pass.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import re
import threading
import time

PKG = "dbt_economic_indicators_eu_spark"

# (span name, module the caller looks the attribute up in, attribute)
WRAPPED = (
    ("streaming.drain", f"{PKG}.streaming.pipeline", "run_available_now"),
    ("materialize.run_models", f"{PKG}.materialize.run", "run_models"),
    ("materialize.incremental", f"{PKG}.materialize.run", "run_incremental"),
    ("materialize.snapshot", f"{PKG}.materialize.run", "run_snapshot"),
    ("testing.schema_tests", f"{PKG}.testing.schedule", "run_schema_tests"),
)

# physical-plan node names that run in a Python worker
_PY_NODE = re.compile(r"Python|Pandas|InArrow")


class Spans:
    """In-memory span recorder. ``enabled`` gates recording so a traced
    run can alternate traced and untraced passes with the wrappers in
    place."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def record(self, name: str, start: float, end: float, parent: str | None, **extra):
        with self._lock:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, **extra})

    def wrap(self, name: str, fn, result_info=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack()
            parent = stack[-1] if stack else None
            stack.append(name)
            start = time.time()
            try:
                out = fn(*args, **kwargs)
            finally:
                stack.pop()
            extra = result_info(out) if result_info else {}
            self.record(name, start, time.time(), parent, **extra)
            return out

        return wrapper

    def install(self) -> None:
        for name, module, attr in WRAPPED:
            mod = importlib.import_module(module)
            info = None
            if attr == "run_schema_tests":
                info = lambda out: {"tests": len(out[1])}  # noqa: E731
            setattr(mod, attr, self.wrap(name, getattr(mod, attr), info))
        registry = importlib.import_module(f"{PKG}.plans.registry")
        registry.Context.ref = self.wrap("plans.ref", registry.Context.ref)

    def between(self, start: float, end: float) -> list[dict]:
        return [s for s in self.spans if start <= s["start"] and s["end"] <= end]



def make_progress_log(spark):
    """A StreamingQueryListener collecting every progress report."""
    from pyspark.sql.streaming.listener import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.progress.append({
                "run_id": str(p.runId),
                "at": time.time(),
                "duration_ms": dict(p.durationMs),
                "state": [
                    {"rows": s.numRowsTotal, "commit_ms": s.commitTimeMs}
                    for s in p.stateOperators
                ],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Stages (with their span, task count and whether they hold a
    Python node), per-stage task metric totals and job submissions."""
    stages: dict[int, dict] = {}
    jobs: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"at": ev["Submission Time"] / 1000.0,
                                 "stages": ev.get("Stage IDs", [])})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["start"] = info.get("Submission Time", 0) / 1000.0
                    st["end"] = info.get("Completion Time", 0) / 1000.0
                    st["tasks"] = info.get("Number of Tasks", 0)
                    st["python"] = any(
                        _PY_NODE.search(rdd.get("Scope", "") + rdd.get("Name", ""))
                        for rdd in info.get("RDD Info", [])
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return {"stages": stages, "jobs": jobs}


def _new_stage() -> dict:
    return {"start": 0.0, "end": 0.0, "tasks": 0, "python": False, "run_s": 0.0,
            "cpu_s": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}


def _union_within(intervals, lo: float, hi: float) -> float:
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def fold_spark(log: dict, window: tuple[float, float], ops: list[tuple[float, float]]) -> dict:
    """Spark-layer totals for one timed pass: every job and stage
    submitted inside ``window``; ``ops`` are the pass's top-level
    operations, whose wall time minus the union of stage spans inside
    them is the driver-side gap (planning, dispatch, result handling)."""
    lo, hi = window
    stages = [s for s in log["stages"].values() if lo <= s["start"] <= hi]
    spans = [(s["start"], s["end"]) for s in stages]
    gap = sum((b - a) - _union_within(spans, a, b) for a, b in ops)
    return {
        "spark.jobs": sum(1 for j in log["jobs"] if lo <= j["at"] <= hi),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.driver_gap_s": gap,
        "spark.executor_run_s": sum(s["run_s"] for s in stages),
        "spark.executor_cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "spark.spill_bytes": sum(s["spill"] for s in stages),
        "spark.python_wait_s": sum(
            max(0.0, s["run_s"] - s["cpu_s"]) for s in stages if s["python"]),
    }


def fold_streaming(progress: list[dict], spans: list[dict]) -> dict:
    """Streaming-layer totals for one pass: drain spans plus the
    progress reports that arrived inside them."""
    drains = [s for s in spans if s["name"] == "streaming.drain"]
    inside = [p for p in progress
              if any(d["start"] <= p["at"] <= d["end"] + 1.0 for d in drains)]
    last_by_run: dict[str, dict] = {}
    for p in inside:
        last_by_run[p["run_id"]] = p

    def dur(key):
        return sum(p["duration_ms"].get(key, 0) for p in inside) / 1000.0

    return {
        "streaming.drain_s": sum(d["end"] - d["start"] for d in drains),
        "streaming.batches": len(inside),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.state_rows": sum(
            s["rows"] for p in last_by_run.values() for s in p["state"]),
        "streaming.state_commit_s": sum(
            s["commit_ms"] for p in inside for s in p["state"]) / 1000.0,
    }


def fold_dag(spans: list[dict]) -> dict:
    """Plans, materialize and testing layer totals for one pass. Ref
    calls nest (a ref builds its upstream refs), so time counts only
    the outermost ones."""
    def total(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    refs = [s for s in spans if s["name"] == "plans.ref"]
    return {
        "plans.ref_calls": len(refs),
        "plans.ref_s": sum(s["end"] - s["start"] for s in refs if s["parent"] != "plans.ref"),
        "materialize.run_models_s": total("materialize.run_models"),
        "materialize.incremental_s": total("materialize.incremental"),
        "materialize.snapshot_s": total("materialize.snapshot"),
        "testing.schema_tests_s": total("testing.schema_tests"),
        "testing.tests_run": sum(s.get("tests", 0) for s in spans
                                 if s["name"] == "testing.schema_tests"),
    }


def files_written(warehouse: str, start: float, end: float) -> tuple[int, int]:
    """(files, bytes) in a warehouse last modified inside [start, end]."""
    files = size = 0
    for dirpath, _, names in os.walk(warehouse):
        for n in names:
            try:
                st = os.stat(os.path.join(dirpath, n))
            except OSError:
                continue
            if start <= st.st_mtime <= end:
                files += 1
                size += st.st_size
    return files, size
