"""Seeded stand-in for the harness test tables (TESTDATA.md).

The registered queries read ten parquet tables (``sources.tables.TABLES``):
a TPC-H-like star schema, an ``events`` stream table, and the ``documents``
and ``embeddings`` corpora. This module writes the same schemas with the
same value domains (key ranges, enum vocabularies, 2-decimal money,
day-grain order dates, 64-d unit embeddings in 10 weak clusters, ~5% near-
duplicate documents), so the analytics workload needs no data outside the
benchmark's own directory. ``sf`` scales row counts like the harness's
``sf0.01`` (60k lineitem rows at ``sf=0.01``). The same ``(seed, sf)``
gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("red", "blue", "green", "small", "large", "hot", "old", "new")
PART_NOUN = ("widget", "bolt", "ring", "plate", "rod", "gear", "pipe", "nut")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "de", "fr")
DOC_WORDS = (
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
    "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
    "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast", "the",
)
_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    adj, noun = rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(900 + (np.arange(n_part) % 1000) / 10),
    })

    order_day = rng.integers(0, 2400, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000, 500_000, n_ord)),
        "o_orderdate": pa.array(_EPOCH_1995 + order_day * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    n_line = 4 * n_ord
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    linenumber = (np.arange(n_line) - run_start) % 7 + 1
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    perm = rng.permutation(n_line)  # stored order is not key order, as in the harness data
    lineitem = {
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": _money(quantity * rng.uniform(900, 2100, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": _EPOCH_1995 + (order_day[l_order] + rng.integers(1, 122, n_line)) * _DAY_US,
    }
    lineitem = {k: v[perm] for k, v in lineitem.items()}
    lineitem["l_shipdate"] = pa.array(lineitem["l_shipdate"], pa.timestamp("us"))
    out["lineitem"] = pa.table(lineitem)

    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(150, n_events // 66), n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.maximum(0.01, _money(rng.exponential(50, n_events))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" if rng.random() < 0.5 else base)
            continue
        n_words = int(rng.integers(10, 100))
        texts.append(" ".join(np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), n_words)]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=(0.44, 0.14, 0.14, 0.14, 0.14))],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0, 1, (10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = 0.14 * centroids[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write ``<table>.parquet`` for every table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
