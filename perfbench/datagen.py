"""Seeded generator for the benchmark's input tables.

Writes the five parquet tables the ``registry_mix`` queries read
(TPC-H-shaped ``customer``, ``orders``, ``lineitem``, and ``events``,
``documents``) at scale factor ``sf`` (sf0.1 = 600k lineitem rows).
Column names, Arrow types, row counts, key fan-out, value domains,
document vocabulary and near-duplicate share are fitted to the engine's
reference sf0.1 tables; ``perfbench/README.md`` lists the figures side
by side. Every value comes from ``numpy`` generators seeded by the
benchmark seed, so the same seed writes byte-identical files and a
different seed changes values and order but never row counts or
domains.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
NEAR_DUP_SHARE = 0.05  # documents that copy another one plus a marker word

TABLES = ("customer", "orders", "lineitem", "events", "documents")


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    day = np.timedelta64(86_400_000_000, "us")
    return base + rng.integers(0, n_days, size) * day


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values, size: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), size, p=p)])


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    n_dup = int(n * NEAR_DUP_SHARE)
    for i in rng.choice(n, n_dup, replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _tpch(name: str, rng, sf: float) -> pa.Table:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    if name == "customer":
        return pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        })
    assert name == "lineitem", name
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
    })


def _events(rng, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    start = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def build_table(name: str, seed: int, sf: float = 0.1) -> pa.Table:
    """One table. Each table draws from its own generator seeded by
    ``(seed, table)``, so its bytes do not depend on which other tables
    are built."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    if name == "events":
        return _events(rng, sf)
    if name == "documents":
        return _documents(rng, int(50_000 * sf))
    return _tpch(name, rng, sf)


def write_tables(out_dir: str, seed: int, sf: float = 0.1, names=TABLES) -> None:
    """Write the named tables to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(build_table(name, seed, sf), os.path.join(out_dir, f"{name}.parquet"))
