#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is fully materialized executor-side via the noop sink (no
driver collect), so the timing covers scan → shuffle → compute without
toPandas serialization noise.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — this host is a VM with
    measurable CPU steal from co-tenants (observed whole-run uniform
    1.2x swings on identical code). The payload ships the steal
    percentage OVER THE RUN so a perturbed measurement is identifiable
    instead of silently polluting the ratio."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except Exception:
        return 0, 0


_OWNER_FD = None  # flock fd held open for the process lifetime


def _hold_owner_lock(scratch: str):
    """Create ``<scratch>/.owner`` and take an exclusive flock on it.
    Returns the open fd (caller keeps it referenced so the lock lives
    as long as the process). Best-effort: a filesystem without flock
    support degrades to the /proc fallback in ``_scratch_is_dead``."""
    import fcntl

    try:
        fd = os.open(os.path.join(scratch, ".owner"), os.O_CREAT | os.O_RDWR, 0o600)
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        return fd
    except OSError:
        return None


# A just-created scratch may be inside its owner's os.open->flock
# window (the lock is not yet held, but the owner is alive). Dirs
# younger than this many seconds additionally need a failed /proc
# probe before they count as dead.
_OWNER_GRACE_SEC = 5.0


def _scratch_is_dead(path: str, pid: int) -> bool:
    """True when the run-<pid> scratch dir has no live owner. Primary
    signal: the owner flock is acquirable (the owning process — and
    only it — holds LOCK_EX until exit, so a free lock means it is
    gone, PID reuse notwithstanding). Fallback for lockless dirs:
    /proc/<pid> existence. TOCTOU guard: a free lock on a dir younger
    than ``_OWNER_GRACE_SEC`` may just mean the owner hasn't reached
    its flock call yet, so young dirs also need the /proc probe to
    fail before they are declared dead."""
    import fcntl

    marker = os.path.join(path, ".owner")
    if os.path.exists(marker):
        try:
            fd = os.open(marker, os.O_RDWR)
        except OSError:
            return not os.path.exists(f"/proc/{pid}")
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return False  # held -> live sibling, leave it alone
        finally:
            os.close(fd)
        try:
            age = time.time() - os.stat(path).st_mtime
        except OSError:
            age = float("inf")
        if age < _OWNER_GRACE_SEC and os.path.exists(f"/proc/{pid}"):
            return False  # lock free but dir too young to trust it
        return True  # lock free -> owner is dead
    return not os.path.exists(f"/proc/{pid}")


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from dbt_economic_indicators_eu_spark.session import host_cpus

    cpus = host_cpus()
    steal0, total0 = _cpu_jiffies()

    # Scratch space on tmpfs when available: streaming checkpoints /
    # state stores and the materialization temp targets are
    # latency-bound on tiny data (measured ~4s across the streaming
    # block at sf0.1). The cluster-scale analogue is fast local NVMe
    # for spark.local.dir — state/shuffle scratch is never the durable
    # store.
    scratch = None
    if os.path.isdir("/dev/shm"):
        root = "/dev/shm/spark-graft-bench"
        os.makedirs(root, exist_ok=True)
        # Per-run PID-suffixed subdirectory: two bench processes on one
        # host must never share (or rmtree) each other's live TMPDIR —
        # a shared path meant a concurrent run's startup wipe deleted
        # this run's checkpoints/temp tables mid-measurement. Stale
        # siblings (RAM-backed leftovers of crashed runs — hundreds of
        # MB each that would otherwise accumulate and compete with the
        # driver heap) are swept only when provably dead: each run
        # holds an exclusive flock on run-<pid>/.owner for its whole
        # lifetime, so liveness is the LOCK, not /proc/<pid> existence
        # (PID reuse by an unrelated process would pin the scratch
        # forever; a shared /dev/shm across PID namespaces would sweep
        # a live sibling mid-measurement). Lockless dirs (crash before
        # lock creation, pre-lock layout) fall back to the /proc probe.
        for entry in os.listdir(root):
            path = os.path.join(root, entry)
            pid = entry.rsplit("-", 1)[-1]
            if entry.startswith("run-") and pid.isdigit() and os.path.isdir(path):
                if int(pid) != os.getpid() and _scratch_is_dead(path, int(pid)):
                    shutil.rmtree(path, ignore_errors=True)
            else:
                # anything else is a leftover of the pre-subdirectory
                # layout (mkdtemp children / stray files written
                # straight under the root) — no owner to probe,
                # reclaim unconditionally. rmtree silently no-ops on a
                # plain file even without ignore_errors, so files need
                # their own branch or they survive every sweep.
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    try:
                        os.remove(path)
                    except OSError:
                        pass
        scratch = os.path.join(root, f"run-{os.getpid()}")
        # A leftover under our own PID is normally a dead prior run
        # (PID reuse) and is reclaimed — but in the shared-/dev/shm
        # cross-PID-namespace scenario the flock exists for, a
        # PID-colliding LIVE sibling can own this exact name. Never
        # rmtree past a held lock: fall back to a suffixed scratch
        # name instead of deleting a live run's state mid-measurement.
        if os.path.isdir(scratch) and not _scratch_is_dead(scratch, os.getpid()):
            suffix = 0
            while os.path.isdir(scratch):
                suffix += 1
                scratch = os.path.join(root, f"run-{os.getpid()}-{suffix}")
        shutil.rmtree(scratch, ignore_errors=True)  # PID-reuse leftover
        os.makedirs(scratch, exist_ok=True)
        # Hold the ownership lock for the process lifetime (fd is
        # intentionally never closed; the kernel drops the flock at
        # exit, which is exactly the liveness signal the sweep wants).
        global _OWNER_FD
        _OWNER_FD = _hold_owner_lock(scratch)
        os.environ["TMPDIR"] = scratch  # before tempfile.gettempdir() caches
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)

    from pyspark.sql import SparkSession

    # Shuffle partitions sized to the DATA, not the core count: sf0.1 is
    # a few hundred MB, so 32 shuffle tasks are pure scheduling overhead
    # (measured 22% of total wall time). AQE re-splits if a partition
    # grows; at cluster scale target ~128MB per shuffle partition.
    # NOTE on scan parallelism: every sf0.1 table is ONE parquet file
    # with ONE row group, so Spark cannot split any scan — scan-heavy
    # stages run single-threaded here. That is a testdata artifact, not
    # a plan property: production files carry many row groups and the
    # same plans fan out across executors.
    # Swept 4/8 full-suite: 4 shaves task-dispatch overhead on every
    # tiny shuffle stage (72 queries x several stages) without starving
    # any CPU-heavy stage — those widen their one-file scans to the
    # executor slots (widen_narrow_scan), independent of this value.
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "4")
    # AQE default OFF for the tiny-SF latency run: adaptive re-planning
    # re-optimizes after every shuffle-stage materialization, which is
    # pure latency when the whole input is a few hundred MB with known
    # stats (measured 30.8s -> 28.4s full-suite A/B). Cluster sessions
    # (session.get_spark) keep AQE ON — runtime skew/coalesce handling
    # is load-bearing at real scale; this knob only shapes the bench.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "false")
    # Constraint propagation walks every operator's constraint set to
    # infer redundant-filter elimination; on 67 expression-heavy plans
    # that is driver-side analysis latency per pass (the suite spends
    # ~4s/pass in warm plan analysis alone). Inferred IsNotNull pushdown
    # matters on cluster-scale joins, so again: bench-only default.
    constraints = os.environ.get("SPARK_GRAFT_CONSTRAINTS", "false")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("spark-graft-bench")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.constraintPropagation.enabled", constraints)
        # Local-relation jobs (createDataFrame ingest fixtures, seeds,
        # mock tables) split into spark.default.parallelism slices —
        # local[32] defaults that to 32 tasks for 15-row inputs, pure
        # dispatch overhead. On a cluster the manager sets this from
        # executor cores; here it mirrors the shuffle sizing.
        .config("spark.default.parallelism", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        # Streaming drains are sub-second here: keep the state-store
        # maintenance thread out of the timed window and retain only
        # the minimum checkpoint history. Long-lived production
        # streams keep the defaults (periodic snapshot compaction is
        # what bounds recovery time there).
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
        .config("spark.sql.streaming.minBatchesToRetain", "2")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Hadoop's default local FS is ChecksumFileSystem: every WAL /
        # offset / commit / state-store / parquet file ALSO writes (and
        # re-reads) a .crc sidecar. A streaming drain touches ~20 small
        # checkpoint files, so the sidecars double its metadata IO —
        # measured ~12% off the streaming block with the raw FS. CRC
        # adds nothing on tmpfs scratch; cluster deployments talk to
        # HDFS/S3 which carry their own integrity layer.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        # benchmark hygiene: no web UI / console progress churn in the
        # driver event loop while timing
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # STATIC conf (must be set before the session exists): the
        # default generated-class cache holds 100 codegen units; 67
        # queries compile ~300+, so a second full suite pass would
        # re-Janino-compile almost everything. With the cache sized to
        # the workload, pass 2 runs entirely from cached classes.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    # The suite compiles ~300+ whole-stage units twice over; with the
    # generated-class cache above keeping them all live, the JIT'd
    # machine code outgrows the JVM's default ~240MB reserved code
    # cache. When that fills, HotSpot disables compilation ("CodeCache
    # is full") and every later query runs interpreted — measured as a
    # sustained late-suite 3-7x slowdown on buffer-heavy plans
    # (percentile, pivot) that no short subset reproduces. Reserve
    # enough for the whole workload up front.
    jvm_opts = "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing"
    if scratch:
        jvm_opts += f" -Djava.io.tmpdir={scratch}"
        builder = builder.config("spark.local.dir", scratch)
    builder = builder.config("spark.driver.extraJavaOptions", jvm_opts)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import queries

    qs = queries()
    # Iteration aid: SPARK_GRAFT_ONLY=a,b,c restricts the run to named
    # queries (warmup + timing). Unset = full suite (driver mode).
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        qs = {n: qs[n] for n in names}

    # Warm the JVM paths a query can hit, so q1 isn't charged session
    # startup: codegen, the parquet datasource (footer/vectorized-reader
    # class loading costs ~2s on first touch), the Python worker daemon
    # (applyInPandas), and the local-collection createDataFrame path.
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = spark.read.parquet(f"{sf_dir}/region.parquet")
    warm.write.mode("overwrite").format("noop").save()
    spark.createDataFrame([(1,)], "x int").groupBy("x").applyInPandas(
        lambda pdf: pdf, "x int"
    ).write.mode("overwrite").format("noop").save()

    # Steady-state warmup: run every query once at the smallest SF.
    # Generated whole-stage/expression code is identical across scale
    # factors (the path lives in the scan node, not the code), so this
    # Janino-compiles and JIT-warms each plan's exact classes while the
    # compile queue is quiet. Without it, expression-heavy plans (HOF
    # shingle/minhash pipelines) hit a flooded C2 queue mid-run and
    # execute interpreted for their whole first job — measured 24s vs
    # 0.7s for the same query at sf0.1. This mirrors steady-state on a
    # real cluster, where executors are JIT-warm within minutes of a
    # multi-hour job.
    warm_sf = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_sf):
        for name, builder in qs.items():
            try:
                builder(spark, warm_sf).write.mode("overwrite").format("noop").save()
            except Exception as exc:
                print(f"bench: warmup {name} failed: {exc}", file=sys.stderr)

    # Prime the target-SF plan cache for pure queries, so both timed
    # passes sample execution rather than py4j plan-build latency.
    # Mostly build-only; the storage-layout builders also run their
    # one-time bucketed/partitioned write here (previously paid inside
    # timed pass 1 — the min across passes is unchanged, the samples
    # are just cleaner). Effectful builders are skipped — calling one
    # RUNS its pipeline.
    from dbt_economic_indicators_eu_spark.queries import all_queries as _aq

    defs = _aq()
    for name, builder in qs.items():
        if name in defs and defs[name].effectful:
            continue
        try:
            builder(spark, sf_dir)
        except Exception as exc:
            print(f"bench: plan-prime {name} failed: {exc}", file=sys.stderr)

    # Whole-suite passes (3 by default, SPARK_GRAFT_PASSES), per-query
    # min: a single sample is polluted by cross-query interference (C2
    # compile backlog from the warmup, driver full-GC after dozens of
    # queries) — measured a 20.6s outlier on a metadata-only query
    # whose warm steady state is 0.7s, and a 9.9s one on a window
    # query. Samples of a query are minutes apart, so a multi-second
    # JVM event lands in a strict subset of them. The codegen cache is
    # sized above so later passes reuse every generated class instead
    # of re-Janino-compiling. Min-of-N is the standard steady-state
    # methodology.
    def time_one(name: str, builder) -> float:
        t0 = time.perf_counter()
        try:
            df = builder(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            return round(time.perf_counter() - t0, 3)
        except Exception as exc:  # keep benching; surface the failure
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            return -1.0

    def jvm_quiesce() -> None:
        # Ask for a full GC OUTSIDE the timed windows so accumulated
        # driver garbage (codegen classes, memory-sink rows, broadcast
        # cleanup) is collected between passes instead of pausing a
        # victim query mid-measurement.
        try:
            spark._jvm.System.gc()
            time.sleep(1.0)
        except Exception:
            pass

    # Oracle passes INTERLEAVE with Spark passes (spark p1, oracle p1,
    # spark p2, oracle p2): the ratio is the deliverable, and this
    # machine shows uniform whole-run swings (measured two back-to-back
    # identical-code runs at 22.2s and 27.2s — median per-query ratio
    # 1.21 across ALL queries, i.e. host-level noise, not queries).
    # Timing the oracle in its own later window let a perturbation hit
    # one side only and swing the ratio ±0.3; sampling both engines in
    # the same windows makes min-of-passes cancel the noise on the
    # RATIO even when absolute times move.
    oracle_on = os.environ.get("SPARK_GRAFT_ORACLE", "1") != "0"
    oracle_best: dict[str, float] = {}
    per_query: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    # Min-of-3 by default: with two samples, a multi-second JVM event
    # (C2 backlog, full GC, streaming teardown of a neighbor) that
    # lands in both leaves no clean sample; a third, minutes apart,
    # caps that tail. Both engines sample in the same windows, so the
    # extra pass is symmetric on the ratio.
    n_passes = int(os.environ.get("SPARK_GRAFT_PASSES", "3"))
    pass_totals: list[float] = []

    pass_clean: list[bool] = []  # no -1 sentinel in the pass

    def one_full_pass() -> None:
        jvm_quiesce()
        pt = 0.0
        clean = True
        for name, builder in qs.items():
            elapsed = time_one(name, builder)
            samples.setdefault(name, []).append(elapsed)
            if elapsed >= 0:
                pt += elapsed
            else:
                clean = False
            prev = per_query.get(name)
            # never let the -1 failure sentinel clobber a valid
            # sample: a transient flake on a later pass must not drop
            # a query (and its oracle time) from the coverage/ratio
            if prev is None:
                per_query[name] = elapsed
            elif elapsed >= 0 and (prev < 0 or elapsed < prev):
                per_query[name] = elapsed
        pass_totals.append(round(pt, 3))
        pass_clean.append(clean)
        if oracle_on:
            try:
                _oracle_pass(sf_dir, set(qs), oracle_best)
            except Exception as exc:
                print(f"bench: oracle pass failed: {exc}", file=sys.stderr)

    for _pass in range(n_passes):
        one_full_pass()

    # Adaptive extra FULL passes (both engines — symmetric on the
    # ratio): when the per-pass Spark totals disagree by >10%, at
    # least one pass-wide noise window (co-tenant memory-bandwidth
    # burst — measured 42% whole-run swings at <1% CPU steal, so
    # steal alone under-reports it; JIT recompile storm; frequency
    # dip) polluted a whole pass, and the min estimator may still be
    # sitting on a polluted floor. Extra passes minutes later sample
    # outside that window. Bounded to +2 so a persistent slow regime
    # cannot stretch the run unboundedly — and min-of-N only converges
    # DOWNWARD to the true floor, so extra samples can never flatter a
    # genuinely slow build.
    for _extra in range(2):
        # spread over FAILURE-FREE passes only: a query failing in one
        # pass shrinks that pass's total, which would fake a >10%
        # spread (and extra minutes of wall) with zero actual noise
        clean_totals = [t for t, ok in zip(pass_totals, pass_clean) if ok]
        if len(clean_totals) < 2 or min(clean_totals) <= 0:
            break
        if max(clean_totals) / min(clean_totals) <= 1.10:
            break
        one_full_pass()

    # Adaptive extra sample: when a query's samples disagree by >1.3x,
    # at least one was polluted by a JVM event (C2 backlog, full GC,
    # streaming-engine teardown of a neighbor). One more sample after
    # a quiesce resolves it; bounded to the disagreeing queries so the
    # extra wall time stays small.
    retry = [
        n
        for n, ss in samples.items()
        if all(s >= 0 for s in ss)
        and min(ss) > 0.15
        and max(ss) / max(min(ss), 1e-9) > 1.3
    ]
    if retry:
        jvm_quiesce()
        for name in retry:
            elapsed = time_one(name, qs[name])
            if elapsed >= 0:
                per_query[name] = min(per_query[name], elapsed)
        # re-sample the ORACLE side for the same names too: a
        # Spark-only retry could only lower Spark minima, biasing the
        # ratio in Spark's favor — the same asymmetry the interleaved
        # passes above exist to eliminate
        if oracle_on:
            try:
                _oracle_pass(sf_dir, set(retry), oracle_best)
            except Exception as exc:
                print(f"bench: oracle retry failed: {exc}", file=sys.stderr)

    # Scaling probe (r12 verdict task #2). The headline passes above
    # time the DATA-sized shuffle width (default 4): deliberately
    # core-count-invariant — the right sizing for a few-hundred-MB
    # input (guide §2.2 wants 100 MB–1 GB per partition) — but it
    # leaves the driver's low-core-vs-main-core comparison blind to
    # shuffle-stage parallelism (PERF_r12 flagged the flat ratios as
    # "suspect_cpus_ignored"). So after the headline passes, extra
    # labeled passes (SPARK_GRAFT_SCALING_PASSES, default 3, min-of-N)
    # re-time every query with shuffle width =
    # max(4, cpus); in these numbers post-shuffle stages track the
    # core count, so dividing the low-core artifact's scaling_probe
    # dict by the main one's certifies (or refutes) parallelism.
    # Deliberately NOT folded into the headline numbers: defaulting
    # the suite to shuffle=cpus measured +2.3 s / +12 % total at 32
    # cores (mis-sized tiny shuffle stages), which would regress every
    # round-over-round comparison to buy a diagnostic. The noop-sink
    # save() builds a fresh QueryExecution per action, so the probe
    # conf re-plans physically even for plan-cached builders.
    # SPARK_GRAFT_SCALING_PROBE=0 skips; so does a probe width equal to
    # the headline width (e.g. 4 cores), which would only repeat the
    # headline passes.
    scaling_probe = None
    shuffle_key = "spark.sql.shuffle.partitions"
    prev_shuffle = spark.conf.get(shuffle_key)
    probe_w = max(4, int(cpus)) if cpus.isdigit() else None
    if (
        probe_w
        and probe_w != int(prev_shuffle)
        and os.environ.get("SPARK_GRAFT_SCALING_PROBE", "1") != "0"
    ):
        spark.conf.set(shuffle_key, str(probe_w))
        try:
            probe_best: dict[str, float] = {}
            n_probe = int(os.environ.get("SPARK_GRAFT_SCALING_PASSES", "3"))
            for _p in range(n_probe):
                jvm_quiesce()
                for name, builder in qs.items():
                    elapsed = time_one(name, builder)
                    if elapsed >= 0 and (
                        name not in probe_best or elapsed < probe_best[name]
                    ):
                        probe_best[name] = elapsed
            scaling_probe = {
                "shuffle_partitions": probe_w,
                "total": round(sum(probe_best.values()), 3),
                "queries": {n: round(t, 3) for n, t in sorted(probe_best.items())},
            }
        finally:
            spark.conf.set(shuffle_key, prev_shuffle)

    total = round(sum(t for t in per_query.values() if t >= 0), 3)
    sf = None
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            sf = float(base[2:])
        except ValueError:
            pass

    # Payload key order is TRUNCATION-DEFENSIVE and pinned by
    # tests/test_bench_payload.py: the driver archives only the TAIL
    # of bench stdout, so whatever precedes the cut is lost. The big
    # per-query dicts (queries / samples / oracle_queries) therefore
    # go FIRST — they're diagnostics — and every scalar trust anchor
    # (sf, host_steal_pct, pass_totals, oracle_value, oracle_coverage,
    # spark_covered_value, ratio_vs_oracle) goes LAST, inside the
    # final ~200 bytes, so the gate metrics and the steal context
    # survive any head truncation (the r10 artifact lost
    # host_steal_pct this way and its 1.853 draw could not be
    # diagnosed from the artifact alone).
    payload = {
        "metric": "total_query_wall_time",
        "unit": "sec",
        "queries": per_query,
    }
    if os.environ.get("SPARK_GRAFT_SAMPLES") == "1":  # debug: raw per-pass samples
        payload["samples"] = samples

    # The gate (BASELINE.md) is "within 2x of the DuckDB oracle at the
    # same SF"; the oracle samples were taken interleaved with the
    # Spark passes above. Identical workloads on both sides of the
    # ratio: only queries that produced a Spark time AND an oracle time
    # enter either sum (a failed Spark query must not add oracle time;
    # a no-oracle query must not add Spark time). Coverage counts ship
    # in the payload so a partial-oracle ratio is visible as such.
    oracle_total = None
    covered: list[str] = []
    if oracle_on and oracle_best:
        covered = sorted(
            n for n, t in per_query.items() if t >= 0 and n in oracle_best
        )
        oracle_total = round(sum(oracle_best[n] for n in covered), 3)
        # per-query oracle minima: lets a reader compute PER-QUERY
        # ratios and same-workload cross-round comparisons (the suite
        # grew 76 -> 97 queries in round 4; a total-only ratio
        # conflates mix shift with regressions)
        payload["oracle_queries"] = {
            n: round(t, 3) for n, t in sorted(oracle_best.items())
        }

    # Scaling-probe numbers are diagnostics like the per-query dicts:
    # they ship BEFORE spark_top and the scalar anchors so truncation
    # eats them first and the trust anchors always survive.
    if scaling_probe is not None:
        payload["scaling_probe"] = scaling_probe

    # Compact Spark slow-tail that SURVIVES artifact truncation: the
    # full `queries` dict above is routinely cut from BENCH_r{N}.json,
    # and the per-query dict left visible in the tail is the ORACLE's
    # (the r11 artifact's `lang_id: 1.174` was DuckDB's time) — so the
    # 10 slowest SPARK queries ship again here, slowest first, between
    # the oracle dict and the scalar anchors, inside the final ~500
    # surviving bytes. Keys in both dicts are unambiguous by position:
    # anything after `spark_top` is Spark-side or scalar.
    payload["spark_top"] = {
        n: t
        for n, t in sorted(
            ((n, t) for n, t in per_query.items() if t >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    }

    # -- scalar trust anchors: keep LAST, nothing may follow them -----
    payload["value"] = total
    payload["sf"] = sf
    # diagnostic: whole-suite Spark wall per pass — a reader can see
    # whether a high ratio came from a uniformly slow run (all passes
    # elevated: host-level regime, not the code)
    payload["pass_totals"] = pass_totals
    steal1, total1 = _cpu_jiffies()
    if total1 > total0:
        payload["host_steal_pct"] = round(
            100.0 * (steal1 - steal0) / (total1 - total0), 2
        )
    if oracle_total is not None:
        payload["oracle_value"] = oracle_total
        payload["oracle_coverage"] = len(covered)
        payload["spark_covered_value"] = round(
            sum(per_query[n] for n in covered), 3
        )
        if oracle_total > 0:
            payload["ratio_vs_oracle"] = round(
                payload["spark_covered_value"] / oracle_total, 3
            )

    print(json.dumps(payload))
    spark.stop()
    return 0


_ORACLE_CON = None


def _oracle_pass(sf_dir: str, names: set[str], best: dict[str, float]) -> None:
    """ONE DuckDB pass over every ``oracle_sql()`` query (same thread
    count, results materialized to Arrow — the counterpart of the Spark
    side's noop sink), folding per-query minima into ``best``. Called
    once after each Spark pass so both engines sample the same noise
    windows — the ratio then cancels host-level perturbations that a
    separate oracle phase would sample asymmetrically."""
    global _ORACLE_CON
    import duckdb

    from __spark_entry__ import oracle_sql
    from dbt_economic_indicators_eu_spark.session import host_cpus, process_cpus

    if _ORACLE_CON is None:
        _ORACLE_CON = duckdb.connect()
        # tolerate non-integer SPARK_GRAFT_CPUS (e.g. '*', which the
        # Spark master string accepts): a raise here would be swallowed
        # by one_full_pass's blanket except EVERY pass and silently
        # drop ratio_vs_oracle from the payload
        _cpus = host_cpus()
        _ORACLE_CON.execute(
            f"SET threads={int(_cpus) if _cpus.isdigit() else process_cpus()}"
        )
        from dbt_economic_indicators_eu_spark.queries.common import TABLES

        for t in TABLES:
            _ORACLE_CON.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
    for name, sql in oracle_sql().items():
        if name not in names:
            continue
        t0 = time.perf_counter()
        _ORACLE_CON.execute(sql).arrow()
        dt = time.perf_counter() - t0
        if name not in best or dt < best[name]:
            best[name] = dt


if __name__ == "__main__":
    raise SystemExit(main())
