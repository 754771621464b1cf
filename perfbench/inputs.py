"""Seeded input generators for the benchmark.

``write_star_tables`` writes the ten tables the registered queries read
(``catalog.TESTDATA_TABLES``) as single-file parquet, in the shapes and
value domains of the repository's star-schema testdata (TESTDATA.md):
uniform keys, TPC-H-like domains, an ordered ``events`` stream, a word
corpus with ~5 % near-duplicate documents, and 64-d unit embeddings in
ten weak clusters.  The same ``seed`` and ``scale`` always give the same
bytes, so the DuckDB oracle and Spark read identical inputs.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400 * 1_000_000


def _days(lo: str, hi: str) -> tuple[int, int]:
    epoch = datetime(1970, 1, 1)
    return ((datetime.fromisoformat(lo) - epoch).days,
            (datetime.fromisoformat(hi) - epoch).days)


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    a, b = _days(lo, hi)
    us = rng.integers(a, b + 1, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = 0.5 * centers[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def star_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 ≈ TPC-H sf1 row counts)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 100)
    n_ord = max(int(1_500_000 * scale), 500)
    n_line = max(int(6_000_000 * scale), 2_000)
    n_evt = max(int(1_000_000 * scale), 1_000)
    n_users = max(int(15_000 * scale), 15)
    n_docs = max(int(50_000 * scale), 200)
    n_vecs = max(int(50_000 * scale), 200)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    lo_us = _days("2024-01-01", "2024-01-01")[0] * _US_PER_DAY
    gaps = rng.exponential(30 * _US_PER_DAY / n_evt, n_evt).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(lo_us + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": _money(rng, n_evt, 0.01, 500.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def write_star_tables(out_dir: str, seed: int, scale: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
