"""Seeded generator for the tables the benchmark's workloads read.

The benchmark never reads a dataset from outside its checkout, so it
builds its own inputs: the TPC-H-like star schema, the ``documents``
corpus and the ``embeddings`` table, with the column names, types and
value domains of the fixtures the engine is developed against. The same
seed always writes the same files (one parquet file per table, as the
engine expects).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents", "embeddings")
EMB_DIM = 64
EMB_LABELS = 10

_EPOCH = dt.datetime(1995, 1, 1)
_ORDER_SPAN_DAYS = (dt.datetime(2001, 8, 1) - _EPOCH).days


def _ts(days: np.ndarray) -> pa.Array:
    us = (np.datetime64(_EPOCH, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """Region, nation, customer, supplier, part, orders and lineitem, sized
    like the TPC-H ratios (customers = orders / 10, ~4 lines per order)."""
    n_cust, n_supp, n_part = max(n_orders // 10, 50), max(n_orders // 150, 10), max(n_orders // 7, 50)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    order_days = rng.integers(0, _ORDER_SPAN_DAYS + 1, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(order_days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per)
    n_line = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(order_days[l_order] + rng.integers(1, 122, n_line)),
    })
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orders, "lineitem": lineitem,
    }


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary; one in twenty is a
    near-duplicate of an earlier document (one word changed, ``dup`` appended),
    which is what the dedup, scrub and curation operators look for."""
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            words = [w for w in texts[int(rng.integers(0, i))].split() if w != "dup"]
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = list(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n_vecs: int) -> pa.Table:
    """Unit-norm float vectors drawn around one centroid per label."""
    labels = rng.integers(0, EMB_LABELS, n_vecs)
    centroids = rng.normal(size=(EMB_LABELS, EMB_DIM))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int, n_orders: int, n_docs: int, n_vecs: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, n_orders)
    tables["documents"] = documents_table(rng, n_docs)
    tables["embeddings"] = embeddings_table(rng, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
