"""Seeded synthetic tables with the schemas the operator registry reads.

The shapes follow the registry's test tables at sf0.01: a TPC-H-like star
(region .. lineitem), an ``events`` stream table with ``timestamp[us]``
times, ``documents`` drawn from a 31-word vocabulary and unit-norm 64-dim
``embeddings``. Same seed, same bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "green"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
WORDS = (
    "a agg batch big column customer data fast filter group hash index join key "
    "line merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

SCALE = 0.01  # the registry's oracle-check scale; keeps one run under a minute
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    scale = SCALE
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_ev = int(1_500_000 * scale), int(1_000_000 * scale)
    n_doc = n_vec = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": price,
    })
    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US  # to 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li).astype("int64")
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": lno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey] * rng.uniform(0.9, 1.1, n_li) + 0.0, 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US),
    })
    gaps = rng.exponential(259e6, n_ev).astype("int64") + 1
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(EPOCH_2024_US + np.cumsum(gaps)),
        "user_id": rng.integers(0, 150, n_ev).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(8, 90, n_doc)]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    label = rng.integers(0, 10, n_vec).astype("int32")
    centers = rng.normal(size=(10, 64))
    vec = centers[label] + rng.normal(scale=1.5, size=(n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label,
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
