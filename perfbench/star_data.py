"""Seeded input tables for the ``arrow_stream`` workload.

The two tables its queries read, with the columns, types and value
domains of the synthetic testdata the queries are written against
(TESTDATA.md): the ``events`` stream table and the ``documents`` table
of the curation queries. One parquet file with one row group per table,
timestamps as ``timestamp[us]``. Row counts scale with ``sf`` like the
testdata's (events = 1,000,000 x sf, documents = 50,000 x sf).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "events")

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400_000_000
_WORDS = ("a agg batch big column customer data fast filter group hash join key line "
          "merge order part query row scan slow small sort spark stream table the value "
          "vector window").split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _pick(values, n, rng) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros, pa.timestamp("us"))


def build_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_evt = int(1_000_000 * sf)
    t = {}
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_evt),
        "event_type": _pick(_EVENT_TYPES, n_evt, rng),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
    })
    t["documents"] = _documents(int(50_000 * sf), rng)
    return t


def _documents(n: int, rng) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary, 10-100 words each.
    About 5% are an earlier document with `` dup`` appended and a few
    are exact copies, so the dedup queries have work to do."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(_LANGS, n, rng),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
