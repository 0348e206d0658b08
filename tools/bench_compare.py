#!/usr/bin/env python
"""Diff two bench payloads per query — the regression detector for
round-over-round analysis.

    python tools/bench_compare.py OLD.json NEW.json [threshold]

Accepts either a raw one-line bench payload or a driver BENCH_r*.json
wrapper (its "parsed" field when present; otherwise the payload JSON
is recovered from the wrapper's truncated "tail" capture when the
queries dict survived the cut). Prints queries whose time moved more
than ``threshold`` (default 1.3x) in either direction, newly FAILED /
newly recovered queries, plus totals.
Exit code 0 always — this is a report, not a gate (host noise at this
scale is +-15%; see README "Bench methodology").
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        doc = json.load(f)
    if "parsed" in doc:
        if isinstance(doc["parsed"], dict):
            doc = doc["parsed"]
        elif isinstance(doc.get("tail"), str):
            # the driver's tail capture truncates long payload lines,
            # leaving parsed=null — recover the JSON object if the
            # payload survives inside the tail, else salvage the
            # per-query dict alone
            tail = doc["tail"]
            start = tail.find('{"metric"')
            if start >= 0:
                try:
                    doc = json.loads(tail[start:].strip().splitlines()[0])
                except Exception:
                    doc = _salvage_queries(tail) or doc
            else:
                doc = _salvage_queries(tail) or doc
    if "queries" not in doc:
        raise SystemExit(
            f"{path}: no 'queries' field (driver wrapper with truncated "
            "payload, or not a bench payload)"
        )
    return doc


def _salvage_queries(tail: str) -> dict | None:
    """Best-effort: extract the (possibly cut) ENGINE per-query dict
    from a truncated driver tail so round-over-round per-query diffs
    still work. name:number pairs are only attributable when the
    '"queries"' dict ANCHOR survived the cut: the payload also carries
    an "oracle_queries" dict of DuckDB timings, and an unanchored
    harvest of whatever pairs survive in a tail that kept only the
    LINE END would silently label oracle timings as engine timings
    (the exact shape the driver's ~2000-char tail capture produces).
    Refusing to salvage beats printing a wrong diff."""
    import re

    q_idx = tail.find('"queries"')
    if q_idx < 0:
        return None  # no anchor: pairs can't be attributed to a dict
    oq_idx = tail.find('"oracle_queries"', q_idx)
    seg = tail[q_idx : oq_idx if oq_idx > q_idx else len(tail)]
    qs = dict(
        (m.group(1), float(m.group(2)))
        for m in re.finditer(r'"([a-z0-9_]+)":\s*(-?[0-9.]+)[,}]', seg)
        if m.group(1)
        not in ("n", "rc", "cpus", "sf", "value", "oracle_value",
                "ratio_vs_oracle", "host_steal_pct", "oracle_coverage",
                "spark_covered_value", "queries")
    )
    return {"queries": qs, "_salvaged": True} if qs else None


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    old, new = load(sys.argv[1]), load(sys.argv[2])
    for label, d in (("OLD", old), ("NEW", new)):
        if d.get("_salvaged"):
            print(
                f"note: {label} payload salvaged from a truncated driver "
                f"tail ({len(d['queries'])} queries survived the cut) — "
                "ADDED/REMOVED rows may be truncation artifacts"
            )
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    oq, nq = old["queries"], new["queries"]

    moved = []
    for name in sorted(set(oq) | set(nq)):
        a, b = oq.get(name), nq.get(name)
        if a is None or b is None:
            moved.append((name, a, b, None))
            continue
        # the -1.0 sentinel means the query RAISED in that run — a
        # working->broken transition is the regression this tool
        # exists to catch; never skip it silently. STRICTLY negative
        # only: bench.py rounds to 3 decimals, so a legitimate
        # sub-millisecond query lands as 0.0 — treating that as the
        # sentinel would report a healthy query as FAILED and mask a
        # real 0.0 -> slow regression as "fixed"
        if a < 0 or b < 0:
            if b < 0 <= a:
                moved.append((name, a, b, "FAILED"))
            elif a < 0 <= b:
                moved.append((name, a, b, "fixed"))
            else:
                # failed in BOTH runs: a persistent breakage must not
                # read as "no per-query move" — keep the signal
                moved.append((name, a, b, "still FAILED"))
            continue
        if a == 0 or b == 0:
            # 0.000 is a rounded real timing: a ratio is meaningless,
            # but a large absolute move still deserves a row
            if max(a, b) > 0.05:
                moved.append((name, a, b, "from/to ~0"))
            continue
        ratio = b / a
        if ratio > thresh or ratio < 1 / thresh:
            moved.append((name, a, b, ratio))

    print(f"{'query':26s} {'old':>8s} {'new':>8s} {'ratio':>7s}")
    for name, a, b, r in moved:
        if r is None:
            tag = "ADDED" if a is None else "REMOVED"
            print(f"{name:26s} {a if a is not None else '-':>8} "
                  f"{b if b is not None else '-':>8} {tag:>7s}")
        elif isinstance(r, str):
            print(f"{name:26s} {a:8.3f} {b:8.3f} {r:>7s}")
        else:
            arrow = "SLOWER" if r > 1 else "faster"
            print(f"{name:26s} {a:8.3f} {b:8.3f} {r:6.2f}x {arrow}")
    if not moved:
        print(f"(no per-query move beyond {thresh}x)")

    for k in ("value", "oracle_value", "ratio_vs_oracle", "host_steal_pct"):
        print(f"{k}: {old.get(k)} -> {new.get(k)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
