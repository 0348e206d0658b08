"""Shared plumbing for the operator demo queries.

Float-parity discipline (SURVEY.md §4), learned the hard way:

1. Aggregates whose float result depends on accumulation order
   (sum/avg/stddev/percentile over doubles) get rounded in BOTH
   engines — at a digit position where the *true* value cannot
   terminate (else the two engines' different rounding modes — Spark
   HALF_UP on the decimal repr vs DuckDB scale-multiply — diverge on
   exact ``.xx5`` values). Sums of 2-decimal data are safe at r2
   (true value terminates at 2 → digit 3 is 0); stddev/slope are
   irrational → any digit is safe UP TO the engines' accumulation
   divergence (~1 ulp — a rounded irrational still flips if the true
   value sits within that of a boundary, so where the data is
   fixed-decimal, PREFER deriving mean/std from exact integer sums:
   see q_anomaly_zscore); percentile interpolations of 2-decimal data
   terminate ≤5 digits → r6 is safe (quarter quantiles are bit-stable
   cross-engine, non-dyadic ones are not —
   tests/test_percentile_twin_exhaustive.py).
2. AVG is never rounded directly: ``round(sum, 2) / count`` is exact
   and order-independent; a rounded avg hits the .5 boundary whenever
   count divides the decimal cleanly.
3. Everything *derived from normalized inputs* (ratios, lags, diffs,
   shares, CASE arithmetic) is emitted RAW — IEEE ops on identical
   doubles are bit-identical across engines, while re-rounding them
   reintroduces the boundary problem.
"""

from __future__ import annotations

import atexit
import glob
import json
import os
import re
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import process_cpus

# canonical list lives in the dependency-free ``tableset`` module so
# the pyarrow-only tools (mutate_corpus) can share it without a
# pyspark import; re-exported here because the engine/tests/tools
# historically import it from this module
from ..tableset import TABLES  # noqa: F401

T = TypeVar("T")


# (application id, session identity, *key) → (session, value); see
# session_memo
_MEMO: dict[tuple, tuple[SparkSession, object]] = {}


def session_memo(
    spark: SparkSession,
    key: tuple,
    build: Callable[[], T],
    valid: Callable[[T], bool] = lambda value: True,
) -> T:
    """What a session reuses across query calls: ``build()``'s value,
    made once per ``(applicationId, id(spark), *key)`` and rebuilt only
    when ``valid(value)`` is false. The one cache of the query layer:
    scans (``load``), plans (``_cached_builder``), the verified dedup
    pairs, the REST extracts, and the scratch directories of
    ``session_scratch``.

    The application id keeps a new session's entries apart from a
    stopped one's; the ``id(spark)`` term keeps
    ``SparkSession.newSession()`` siblings apart (same application,
    own temp views and session confs such as nanosAsLong).

    Liveness rule: entries are never evicted, and each stores its
    session beside its value. A live entry therefore keeps its session
    alive, so the session's id cannot be reused by a new session while
    the key exists; this holds for every entry, path-valued ones too.
    Any eviction scheme must drop the value, the session and the key
    together (e.g. a WeakKeyDictionary keyed on the session); keeping
    a key after dropping its session would reopen id-reuse collisions.
    Growth is bounded by sessions × keys; a process that churns many
    sessions should recycle one session per dataset instead."""
    full = (spark.sparkContext.applicationId, id(spark), *key)
    hit = _MEMO.get(full)
    if hit is None or not valid(hit[1]):
        hit = _MEMO[full] = (spark, build())
    return hit[1]


def session_scratch(
    spark: SparkSession,
    key: tuple,
    fill: Callable[[str], None] | None = None,
    mkdtemp: Callable[[str], str] = lambda prefix: tempfile.mkdtemp(prefix=prefix),
) -> str:
    """A scratch directory a session reuses across query calls:
    ``mkdtemp(prefix)`` makes it (``<key[0]>_…``), ``fill(path)``
    populates it once, and it is rebuilt when it has gone (removed by
    hand or by a tmp cleaner). Every one is removed at process exit by
    ``_sweep_scratch``, so per-process scratch cannot accumulate in
    /tmp or /dev/shm across gate and bench invocations."""

    def build() -> str:
        path = mkdtemp(f"{key[0]}_")
        if fill is not None:
            fill(path)
        return path

    return session_memo(spark, ("scratch", *key), build, valid=os.path.isdir)


@atexit.register
def _sweep_scratch() -> None:
    """THE exit sweep of the query layer: every ``session_scratch``
    directory."""
    for full, (_, path) in list(_MEMO.items()):
        if full[2] == "scratch":
            shutil.rmtree(path, ignore_errors=True)


# Shared integer micro-unit scale for log-score quantization
# (round(ln(..) * MICRO) snapped to BIGINT): per-document sums become
# exact integer arithmetic — associative, order-independent,
# shuffle-safe — so Spark and DuckDB agree bit-for-bit. tfidf_topk
# (corpus.py) and unigram_logprob (curation.py) must share ONE scale;
# retuning it in one place must retune both.
MICRO = 1_000_000


def money4_sum_r2(col: Column) -> Column:
    """2-decimal rounded sum of a 4-decimal money expression (the
    l_extendedprice * (1 - l_discount) product: 2-dec price x 2-dec
    factor = 4 decimals), accumulated EXACTLY as integer
    ten-thousandths. r2 of a raw double sum is unsafe here: true group
    sums landing exactly on the .xx5 half boundary exist in the
    shipped testdata at every SF, and a one-ulp difference between
    Spark's and DuckDB's partial-agg accumulation order would round to
    opposite sides. Snapping each summand to an integer (exact in
    doubles — the true value IS an integer, ~1e-6 from the computed
    one, so round() hits it in both engines) makes the sum
    associative, order-independent, and bit-identical. The final
    round-to-cents also happens IN INTEGER SPACE ((si + 50) div 100,
    half-up — valid for the non-negative money domain; si + 50 must
    stay under 2^53 for the floor-division to be exact, i.e. group
    sums below ~9e8 currency units, comfortably above any nation-year
    revenue): ``round(si / 10000.0, 2)`` would re-enter the trap,
    because at a true .xx5 sum Spark rounds the double's SHORTEST
    DECIMAL STRING half-up while DuckDB rounds its binary value —
    found live at sf0.01 (NATION_22/1999: 17814815.935 → .94 vs .93).
    Twin: ``money4_sum_sql``."""
    si = F.sum(F.round(col * 10000).cast("bigint"))
    cents = F.floor((si + F.lit(50)) / F.lit(100)).cast("bigint")
    return cents / F.lit(100.0)


def money4_sum_sql(expr: str) -> str:
    """DuckDB twin of ``money4_sum_r2`` (same integer ten-thousandths
    sum, same integer-space half-up round to cents)."""
    si = f"CAST(sum(CAST(round(({expr}) * 10000) AS BIGINT)) AS BIGINT)"
    return f"(CAST(floor(({si} + 50) / 100) AS BIGINT) / 100.0)"


def md5_bucket(key: Column, start: int = 1) -> Column:
    """THE deterministic membership hash: a 32-bit unsigned value from
    an 8-hex-char window of ``md5(key :: string)`` — content-
    independent, RNG-free, bit-identical across engines. Shared by
    hash_split / pack_sequences / sample_stratified / training_shuffle
    / temperature_resample; callers apply their own ``% modulus``.
    ``start`` selects the hex window (9 = an INDEPENDENT second hash
    from the same digest — sample_stratified's trick to decorrelate
    from hash_split's buckets). Twin: ``md5_bucket_sql`` — one recipe,
    one SQL twin, or a width/offset change silently de-synchronizes a
    query from its oracle."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), start, 8), 16, 10)
        .cast("bigint")
    )


def finite_or_null(v: Column) -> Column:
    """THE finite-value guard: NaN/±Infinity → NULL (skipped like
    NULLs, identically in both engines). The only non-finite encoding
    the engines agree on: DuckDB's quantile_cont POISONS on a NaN in
    the group (NaN sorts greatest and infects the interpolation) while
    Spark's percentile skips it, and avg/stddev NaN-poison on BOTH
    sides. NULL also propagates safely through downstream arithmetic
    (round/*/cast), so ``round(finite_or_null(v) * 100)`` is the
    crash-free integer-cents path. Twin: ``finite_or_null_sql`` — one
    recipe, one SQL twin, or a non-finite-policy change silently
    de-synchronizes a query from its oracle (shared by
    anomaly_zscore's cents/quartiles and sketch_agg's quantiles)."""
    return F.when(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf"))), v
    )


def finite_or_null_sql(expr: str) -> str:
    """DuckDB twin of ``finite_or_null``."""
    return (
        f"CASE WHEN {expr} IS NOT NULL AND NOT isnan({expr}) "
        f"AND NOT isinf({expr}) THEN {expr} END"
    )


def md5_bucket_sql(expr: str, start: int = 1) -> str:
    """DuckDB twin of ``md5_bucket``. ``||``, NOT concat(): concat
    SKIPS null args, so a NULL key would yield the literal '0x' and
    CAST('0x' AS BIGINT) aborts the query — while the Spark twin
    returns NULL. ``||`` propagates NULL, matching Spark exactly."""
    return (
        f"CAST('0x' || substr(md5(CAST({expr} AS VARCHAR)), {start}, 8) "
        "AS BIGINT)"
    )


# NTZ epoch anchor for the legacy nanos-as-long reconstruction below.
# NOTE: timestamp_add/timestamp_diff against it are NOT tz-inert —
# Spark routes NTZ operands through the session zone, so wall times
# inside a DST gap shift by the gap width (found building
# tests/test_epoch_twin_exhaustive.py). The legacy branch is safe only
# because load() pins the session to UTC (fixed offset, no gaps).
# Built per call — Column construction needs an active SparkContext.
def EPOCH_NTZ() -> Column:
    return F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")


_US_PER_DAY = 86_400_000_000


def legacy_nanos_to_ntz(c_name: str) -> Column:
    """Reconstruct TIMESTAMP_NTZ micros from a legacy nanos-as-long
    column — the nanos branch of ``ts_to_ntz``, which batch ``load()``
    and the streaming source share (one definition, or a change
    silently diverges batch from stream and both from the oracle).

    Integer ``div`` (ns longs ~1.7e18 overflow double precision),
    which TRUNCATES TOWARD ZERO for pre-epoch values — deliberately:
    DuckDB's parquet reader converts TIMESTAMP(NANOS) to its µs
    timestamp the same way (-1 ns → 1970-01-01 00:00:00.000000,
    verified empirically), so truncation is the cross-engine parity
    choice. numpy/pandas ``astype('datetime64[us]')`` FLOORS instead
    (-1 ns → 23:59:59.999999) — a pandas-side consumer of pre-epoch
    nanos data diverges by 1 µs on non-integral-µs values."""
    return F.timestamp_add("MICROSECOND", F.expr(f"{c_name} div 1000"), EPOCH_NTZ())


def epoch_micros(c: Column) -> Column:
    """Microseconds since epoch for TIMESTAMP_NTZ (wall-clock) columns.
    Use this instead of ``unix_micros`` anywhere ``events.ts`` flows —
    the canonical ``ts`` type is NTZ (see load).

    An LTZ input is RENDERED in the session zone first (field
    extraction on LTZ reads the zone-local calendar), i.e. the result
    is wall-clock micros of that rendering — the offset at the value's
    OWN instant, not the epoch's (the old timestamp_diff form used the
    epoch's offset; the two differ by the DST delta). No engine call
    site passes LTZ — all are NTZ or pre-cast
    (tests/test_epoch_twin_exhaustive.py pins both paths).

    Computed from CALENDAR FIELDS (days + time-of-day), never via
    ``timestamp_diff`` against an epoch anchor: the diff path converts
    NTZ through the session time zone, so a wall time inside a DST gap
    (e.g. 2025-03-30 02:30 under Europe/Paris) silently shifts by the
    gap width — exactly the 2-3 AM region where sessionize gap logic
    and as-of binning operate. Field extraction is tz-inert by
    construction (pinned across every zone by
    tests/test_epoch_twin_exhaustive.py); ``date_part('SECOND')``
    carries the microsecond fraction as an exact decimal(8,6). All
    pieces are codegen'd JVM intrinsics on the underlying micros long."""
    days = F.datediff(F.to_date(c), F.lit("1970-01-01").cast("date")).cast("bigint")
    micros_of_day = (F.hour(c) * 3600 + F.minute(c) * 60).cast("bigint") * F.lit(
        1_000_000
    ) + (F.date_part(F.lit("SECOND"), c) * 1_000_000).cast("bigint")
    return days * F.lit(_US_PER_DAY) + micros_of_day


def raw_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One synthetic parquet table as stored, read once per session
    with the confs ``load`` needs. ``events_stream`` takes its read
    schema from here: a session that loaded the table pays no extra
    footer job."""

    def read() -> DataFrame:
        # Self-contained: the driver supplies its own SparkSession, so
        # these runtime SQL confs must be set here, not only in
        # session.get_spark — otherwise TIMESTAMP(NANOS) parquet raises
        # PARQUET_TYPE_ILLEGAL.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Pin UTC too: ts itself is NTZ (tz-free), but the few places
        # that MUST cast to LTZ (streaming watermarks, timestamp
        # literals in engine queries) are only wall-clock identities
        # under UTC — a driver session inheriting a non-UTC machine
        # zone would silently shift them. The oracle (DuckDB naive
        # timestamps) assumes UTC.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    return session_memo(spark, ("raw_scan", sf_dir, name), read)


def ts_to_ntz(df: DataFrame) -> DataFrame:
    """THE ``events.ts`` normalization, shared by batch ``load`` and
    ``streaming.pipeline.events_stream``: whatever the parquet encoding,
    ``ts`` becomes TIMESTAMP_NTZ. Under ``raw_scan``'s confs the read
    type names the encoding: ``bigint`` is legacy TIMESTAMP(NANOS) read
    as a long (``legacy_nanos_to_ntz``, truncating to µs; tz-adjusted
    nanos included, the long being the UTC instant), ``timestamp`` is
    INT96 or tz-adjusted micros (cast to NTZ, the identity reinterpret
    under the pinned UTC zone), and ``timestamp_ntz`` is micros without
    tz (current testdata), left as read."""
    kind = dict(df.dtypes).get("ts")
    if kind == "bigint":
        return df.withColumn("ts", legacy_nanos_to_ntz("ts"))
    if kind == "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic parquet table (column pruning + predicate
    pushdown happen automatically downstream of this lazy scan),
    memoized per session: without it every query re-lists the path and
    re-reads parquet footers during analysis (~20-50ms × 67 queries ×
    1-3 tables — the single-node analogue of having no metastore).

    ``events.ts`` is normalized to TIMESTAMP_NTZ (``ts_to_ntz``) — the
    tz-free wall clock that DuckDB's naive TIMESTAMP also uses, so the
    oracle's ``CAST(ts AS TIMESTAMP)`` sees identical values.
    """
    return session_memo(
        spark, ("scan", sf_dir, name), lambda: ts_to_ntz(raw_scan(spark, sf_dir, name))
    )


# DuckDB-side normalization of events.ts (TIMESTAMP_NS → µs, floor) to
# mirror what ``load`` does on the Spark side.
EVENTS_NORM_SQL = (
    "(SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props "
    "FROM events)"
)


from contextlib import contextmanager


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Scope ``spark.sql.shuffle.partitions`` around eagerly-executed
    plans (iterative loops sizing their shuffle width to measured
    state). Only affects plans BUILT and RUN inside the scope; lazy
    frames returned to the caller plan at action time, after restore."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def master_slots(master: str, default_parallelism: int) -> int:
    """Executor slot count for a Spark master string: N for
    ``local[N]``, ``session.process_cpus()`` for ``local[*]``; for any
    other master ``defaultParallelism`` is the executors' total core
    count."""
    m = re.fullmatch(r"local\[(\*|\d+)\]", master)
    if not m:
        return default_parallelism
    if m.group(1) == "*":
        return process_cpus()
    return int(m.group(1))


def executor_slots(spark: SparkSession) -> int:
    """Tasks the session runs at once — one wave of a stage. In local
    mode ``defaultParallelism`` may be conf-pinned to the shuffle width
    (tiny-data sizing), so the slot count is read from the master."""
    sc = spark.sparkContext
    return master_slots(sc.master or "", sc.defaultParallelism)


def widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Fan a CPU-heavy stage out of an unsplittable scan.

    Parquet scans parallelize across files and row groups; every
    tiny-SF test table is ONE file with ONE row group, so any
    compute-dense stage fused onto the scan (multi-distinct
    aggregation buffers, regex batteries, explode+partial-agg) runs on
    a single core. When the scan cannot fan out (fewer input files
    than cores), redistribute once — the exchange ships the scan's
    pruned columns, megabytes here — and the stage uses the machine.

    At cluster scale real tables ship thousands of splits, the
    condition is false, and NO exchange is inserted: width tracks
    COMPUTE (the executor slots) when and only when the data cannot
    provide it."""
    spark = df.sparkSession
    cores = max(spark.sparkContext.defaultParallelism, executor_slots(spark))
    try:
        n_files = len(df.inputFiles())
    except Exception:  # multi-source/derived frames: leave untouched
        return df
    if n_files >= cores:
        return df
    return df.repartition(cores)


def r2(c: Column) -> Column:
    return F.round(c, 2)


def r4(c: Column) -> Column:
    return F.round(c, 4)


def r6(c: Column) -> Column:
    return F.round(c, 6)


@dataclass(frozen=True)
class QueryDef:
    """A named operator demo: Spark builder + DuckDB oracle SQL.

    ``oracle`` is None for genuinely non-SQL-expressible operators
    (sequential recursions, streaming) — the driver then records a
    weaker rows-only check.

    ``effectful`` marks builders whose WORK happens at build time
    (streaming drains, materializations that write storage, ingest
    pipelines, iterative algorithms, driver-side assertions). Those are
    re-run on every call. Pure declarative builders return a logical
    plan, and the plan is cached per (session, sf_dir): re-building an
    identical Column tree through py4j costs 50-400 ms per query (~20%
    of warm query wall at sf0.1), which a resident pipeline service —
    and the reference's compiled-manifest dbt runner — never re-pays.
    Every ACTION on the cached frame still re-executes the full
    scan/shuffle/compute; only plan construction is reused.
    """

    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    ops: tuple[str, ...] = ()  # SURVEY.md §2 operator IDs exercised
    effectful: bool = False


def _cached_builder(q: "QueryDef") -> Callable[[SparkSession, str], DataFrame]:
    # The built frame (logical plan) is memoized per (session, sf_dir,
    # query name). Caveat (inherent to plan caching): confs read at
    # BUILD time (e.g. a repartition width derived from
    # shuffle.partitions) are frozen into the cached plan — a conf
    # sweep needs a fresh session.
    # CACHE INVARIANT: every ACTION on a cached frame re-executes the
    # full scan/shuffle/compute — which is only true while no cached
    # plan persists state across actions. A plan embedding a (lazy)
    # localCheckpoint or .cache() would serve later actions from
    # persisted blocks; such a query must NOT go through this cache
    # (mark it effectful, or better, restructure for ReuseExchange —
    # see q_tfidf_topk).
    if q.effectful:
        return q.builder

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return session_memo(spark, ("plan", sf_dir, q.name), lambda: q.builder(spark, sf_dir))

    return build


# The driver contract module (and the CORRECTNESS_r*.json verdict
# artifacts the driver writes beside it) sits at the repo root.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def cumulative_correctness(root: str = _REPO_ROOT) -> tuple[list[str], dict[str, tuple[int, dict]]]:
    """Read the driver's ``CORRECTNESS_r<N>.json`` artifacts in ``root``.

    Returns the artifact file names in numeric round order (r100 after
    r13), and for each query the latest round that recorded it with
    that round's verdict row. No artifacts → ``([], {})``."""
    rounds: list[tuple[int, str]] = []
    for path in glob.glob(os.path.join(glob.escape(root), "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            rounds.append((int(m.group(1)), path))
    rounds.sort()
    latest: dict[str, tuple[int, dict]] = {}
    for n, path in rounds:
        with open(path) as f:
            for name, row in json.load(f).items():
                latest[name] = (n, row)
    return [os.path.basename(p) for _, p in rounds], latest


def _verify_order(names: list[str], root: str = _REPO_ROOT) -> list[str]:
    """Verification order: the driver records verdicts for a 50-query
    prefix of ``queries()``, so the stalest latest verdict goes first
    (no verdict = round 0); the stable sort keeps module order on ties
    and returns module order when no artifacts exist. With at most 100
    queries every query then holds a verdict from the last two rounds."""
    _, latest = cumulative_correctness(root)
    return sorted(names, key=lambda n: latest.get(n, (0,))[0])


def all_queries() -> dict[str, QueryDef]:
    from . import (
        corpus,
        curation,
        datapipe,
        engine,
        ml,
        relational,
        simsearch,
        storage,
        streamq,
        timeseries,
    )

    by_name: dict[str, QueryDef] = {}
    for mod in (
        relational, ml, datapipe, engine, simsearch, streamq, storage, timeseries, curation, corpus,
    ):
        for q in mod.QUERIES:
            by_name[q.name] = q
    # Expose plan-cached builders for pure queries (see QueryDef).
    from dataclasses import replace

    return {
        name: replace(by_name[name], builder=_cached_builder(by_name[name]))
        for name in _verify_order(list(by_name))
    }
