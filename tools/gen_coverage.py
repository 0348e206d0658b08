#!/usr/bin/env python
"""Regenerate COVERAGE.md from QueryDef declarations + driver verdicts.

"Verified" is read from the CUMULATIVE CORRECTNESS_r*.json history the
driver wrote — declaring oracle SQL is not verification. Each round the
driver checks a 50-query prefix of ``queries()``, whose order is
computed from these same artifacts (stalest verdict first), so any
single round's file under-covers; this report joins ALL rounds, takes
each query's verdict from the LATEST round that recorded a row for it,
and prints that round as provenance (`pass@r3`). Queries with no row in
any round are `unchecked`, so the doc can never overstate what the
driver actually compared.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from dbt_economic_indicators_eu_spark.queries.common import (  # noqa: E402
    all_queries,
    cumulative_correctness,
)


def verdict(name: str, oracle_declared: bool, latest: dict[str, tuple[int, dict]]) -> str:
    hit = latest.get(name)
    if hit is None:
        return "unchecked"
    n, r = hit
    tag = f"@r{n}"
    if r.get("err"):
        return f"FAIL(err){tag}"
    if not oracle_declared:
        return (f"rows-only-pass{tag}") if r.get("rows_match") else f"FAIL(rows){tag}"
    if r.get("rows_match") and r.get("schema_match") and r.get("hash_match"):
        return f"pass{tag}"
    # name the FIRST failing component so triage starts in the right place
    if not r.get("rows_match"):
        return f"FAIL(rows){tag}"
    if not r.get("schema_match"):
        return f"FAIL(schema){tag}"
    return f"FAIL(hash){tag}"


def main() -> int:
    qs = all_queries()
    files, latest = cumulative_correctness()
    verdicts = {n: verdict(n, q.oracle is not None, latest) for n, q in qs.items()}

    op2q: dict[str, list[str]] = {}
    for name, q in qs.items():
        for op in q.ops:
            op2q.setdefault(op, []).append(name)

    n_pass = sum(1 for v in verdicts.values() if v.startswith(("pass", "rows-only-pass")))
    n_fail = sum(1 for v in verdicts.values() if v.startswith("FAIL"))
    n_unchecked = sum(1 for v in verdicts.values() if v == "unchecked")

    lines = [
        "# Operator coverage — SURVEY.md §2 + training-data extensions",
        "",
        "Generated by `tools/gen_coverage.py` from `queries/*.py` QueryDef",
        "declarations joined with the cumulative driver verdicts in "
        + (", ".join(f"`{f}`" for f in files) or "(none)") + ".",
        "A query is `pass@rN` if the driver hash-compared it against its",
        "DuckDB oracle in round N (its most recent verdict); `unchecked`",
        "means no verdict row exists in ANY round (declared oracle SQL",
        "alone does not count as verification).",
        "",
        "| Operator | Query (driver verdict) |",
        "|---|---|",
    ]
    for op in sorted(op2q):
        entries = ", ".join(f"`{n}` ({verdicts[n]})" for n in op2q[op])
        lines.append(f"| {op} | {entries} |")
    lines += [
        "",
        f"Total: {len(op2q)} operator IDs, {len(qs)} queries — "
        f"{n_pass} pass, {n_fail} fail, {n_unchecked} unchecked "
        f"(cumulative over {len(files)} round files).",
    ]
    if n_unchecked:
        unchecked = [n for n, v in verdicts.items() if v == "unchecked"]
        lines += ["", "Never checked in any round: " + ", ".join(f"`{n}`" for n in unchecked) + "."]
    max_round = max((n for n, _ in latest.values()), default=0)
    stale = sorted(
        n for n, v in verdicts.items()
        if v.startswith(("pass", "rows-only-pass")) and not v.endswith(f"@r{max_round}")
    )
    with open(os.path.join(REPO, "COVERAGE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(
        f"{len(op2q)} ops, {len(qs)} queries: {n_pass} pass / {n_fail} fail / "
        f"{n_unchecked} unchecked; {len(stale)} passing on a pre-latest round"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
