"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to DuckDB with ``threads: 4/8``
(reference ``profiles.yml:11,14``). Here Catalyst+AQE replace DuckDB's
optimizer; the configs below are chosen for a large cluster and work
unchanged on ``local[N]``:

- AQE on (runtime coalesce of shuffle partitions, skew-join splitting,
  dynamic broadcast conversion) — at 100 TB the static
  ``shuffle.partitions`` is only an upper bound, AQE right-sizes it.
- Arrow for every pandas interchange (Pandas UDFs / applyInPandas).
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (naive timestamps) regardless of host TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def process_cpus() -> int:
    """The CPUs this process may run on (its affinity mask, so a
    cpuset-restricted container counts its own CPUs, not the
    machine's). The one host CPU count: ``host_cpus()`` and the
    ``local[*]`` slot count both read it."""
    return len(os.sched_getaffinity(0))


def host_cpus() -> str:
    """``$SPARK_GRAFT_CPUS`` when set, else ``process_cpus()`` — the
    ``N`` of the default ``local[N]`` master."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(process_cpus())


def get_spark(
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` with ``N`` from ``host_cpus()``
    when no cluster is configured; on a real cluster pass
    ``master=None`` and let spark-submit decide.
    """
    if master is None:
        master = f"local[{host_cpus()}]"
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS))

    builder = (
        SparkSession.builder.appName("dbt-economic-indicators-eu-spark")
        .master(master)
        # --- optimizer / adaptive execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.cbo.enabled", "true")
        # --- scan sizing (128 MiB splits: the parquet row-group sweet spot) ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- python interchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) (unsupported by Spark natively) → LongType;
        # sources.readers converts to microsecond timestamps on load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
