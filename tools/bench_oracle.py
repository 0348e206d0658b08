#!/usr/bin/env python
"""Time the DuckDB oracle side of every query at a given scale factor.

The driver's bench gate is "within 2x of the DuckDB oracle at the same
scale factor" (BASELINE.md). ``bench.py`` times the Spark side; this
tool times the oracle side so the ratio is measurable locally:

    python tools/bench_oracle.py [sf_dir] [threads]

Prints one JSON line mirroring bench.py's shape. Each query is fully
materialized to an Arrow table (comparable to bench.py's noop sink:
results leave the engine but are never written).
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import oracle_sql  # noqa: E402
from dbt_economic_indicators_eu_spark.session import host_cpus  # noqa: E402
from dbt_economic_indicators_eu_spark.tableset import TABLES  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    threads = sys.argv[2] if len(sys.argv) > 2 else host_cpus()

    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    # min-of-N with a warmup pass, mirroring bench.py's Spark-side
    # methodology: a single cold sample pays first-touch parquet /
    # page-cache costs the Spark side's warmed min never pays, which
    # would inflate the oracle denominator and flatter the 2x gate
    n_passes = int(os.environ.get("SPARK_GRAFT_PASSES", "3"))
    sqls = oracle_sql()
    for sql in sqls.values():  # warmup
        try:
            con.execute(sql).arrow()
        except Exception:
            pass
    per_query: dict[str, float] = {}
    for _ in range(n_passes):
        for name, sql in sqls.items():
            t0 = time.perf_counter()
            try:
                dt_s = None
                con.execute(sql).arrow()
                dt_s = round(time.perf_counter() - t0, 3)
            except Exception as exc:
                print(f"oracle bench: {name} FAILED: {exc}", file=sys.stderr)
            prev = per_query.get(name)
            if dt_s is None:
                per_query.setdefault(name, -1.0)
            elif prev is None or prev < 0 or dt_s < prev:
                per_query[name] = dt_s

    covered = [n for n, t in per_query.items() if t >= 0]
    total = round(sum(per_query[n] for n in covered), 3)
    sf = None
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            sf = float(base[2:])
        except ValueError:
            pass

    print(json.dumps({
        "metric": "oracle_total_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        # coverage ships so a partial-oracle total is visible as such
        # (bench.py's ratio must divide MATCHED query sets)
        "coverage": len(covered),
        "n_failed": len(per_query) - len(covered),
        "sf": sf,
    }))
    return 1 if len(covered) < len(per_query) else 0


if __name__ == "__main__":
    raise SystemExit(main())
