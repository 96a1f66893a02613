"""Seeded generator for the warehouse tables the sf workloads read.

Writes the ten tables of ``catalog.TABLES`` (one parquet file each, the
layout ``catalog.load`` expects) with the schemas and marginal
distributions of the fixed sf tiers: uniform foreign keys over contiguous
0-based key ranges, TPC-H-like categorical columns, an exponential event
``value``, a 31-word document vocabulary with a few exact-duplicate
documents, and unit-norm 64-dim embeddings with a weak label pull.
Row counts scale linearly with ``sf`` (lineitem = 6M x sf); ``rows``
overrides the count of single tables (orders, events, documents,
embeddings).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DIMS = 64
N_LABELS = 10
LABEL_PULL = 0.56

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, (b - a).astype(int) + 1, size=n)
    return (a + d).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int, sf: float, rows: dict[str, int] | None = None) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    rows = rows or {}
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = rows.get("orders", int(1_500_000 * sf)), int(6_000_000 * sf)
    n_ev = rows.get("events", int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = rows.get("documents", int(50_000 * sf))
    n_vecs = rows.get("embeddings", max(500, int(20_000 * sf)))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(np.char.add(np.char.add(np.array(PART_ADJ)[adj], " "), np.array(PART_NOUN)[noun])),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04")),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + (np.datetime64("2024-01-01", "us") - _EPOCH).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")),
        }
    )
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), size=n)]) for n in rng.integers(10, 101, n_docs)]
    n_dup = max(1, n_docs * 3 // 2000)  # ~0.3% of rows in exact-duplicate pairs
    for a, b in rng.choice(n_docs, size=2 * n_dup, replace=False).reshape(-1, 2):
        texts[int(b)] = texts[int(a)]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": texts,
            "lang": pa.array(rng.choice(LANGS, size=n_docs, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    cents = rng.normal(size=(N_LABELS, DIMS))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n_vecs).astype(np.int32)
    g = rng.normal(size=(n_vecs, DIMS))
    g /= np.linalg.norm(g, axis=1, keepdims=True)
    v = g * np.sqrt(DIMS) + LABEL_PULL * cents[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), i64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float, rows: dict[str, int] | None = None) -> str:
    """Write the tables atomically (build in a sibling dir, then rename)."""
    tmp = f"{out_dir}.building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables(seed, sf, rows).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir
