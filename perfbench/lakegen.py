"""Seeded lake tables for the query workloads.

Writes the ten parquet tables the registered queries read (a TPC-H-like
star schema, an ``events`` stream table, ``documents`` and
``embeddings``) with the column names and physical types of the
reference test data. Values are drawn independently from fixed
distributions, so one seed always gives byte-identical inputs and
another seed gives different rows of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "old", "cold", "hot", "new", "big", "blue"]
_PART_NOUN = ["ring", "widget", "anvil", "plate", "bolt", "gear", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_EMBED_DIM = 64


def _ts(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lake_tables(seed: int, lineitems: int) -> dict[str, pa.Table]:
    """Build every table in memory; sizes scale with ``lineitems``."""
    rng = np.random.default_rng(seed)
    n_orders = max(lineitems // 4, 10)
    n_cust = max(lineitems // 40, 10)
    n_supp = max(lineitems // 600, 5)
    n_part = max(lineitems // 30, 10)
    n_events = max(lineitems // 6, 100)
    n_docs = 500
    n_vecs = 200
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    ok = np.arange(n_orders, dtype=np.int64)
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders)),
        "o_orderdate": _ts(order_day, "1995-01-01"),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, lineitems).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, lineitems).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lineitems).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, lineitems).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, lineitems)),
        "l_discount": pa.array(rng.integers(0, 11, lineitems) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, lineitems) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, lineitems)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, lineitems)],
        "l_shipdate": _ts(rng.integers(1, 2499, lineitems), "1995-01-01"),
    })
    # Strictly increasing timestamps over 30 days, microsecond resolution.
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_events, n_events)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, n_events).astype(np.int64)),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        words = rng.choice(_WORDS, int(rng.integers(8, 90)))
        if i % 10 == 9:  # a near-duplicate of the previous document
            words = np.append(texts[-1].split(), "dup")
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, _EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.0, (n_vecs, _EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return out


def write_lake(out_dir: str, seed: int, lineitems: int) -> int:
    """Write the tables as ``<out_dir>/<name>.parquet``; return total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in lake_tables(seed, lineitems).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
