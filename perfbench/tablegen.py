"""Seeded analytics tables in the shape of the engine's ``sf`` directories.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one parquet file each, with the column names,
types and value domains the registry queries expect (a TPC-H-like star
schema, a click stream, a small text corpus with planted near-duplicates
and unit-norm clustered embeddings).  ``scale`` multiplies the row counts;
``scale=1`` gives 15,000 orders and ~60,000 line items.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01 in epoch micros
EPOCH_2024 = 1_704_067_200 * 1_000_000


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def generate(out: str, seed: int, scale: float = 1.0, n_docs: int = 500) -> str:
    """Write every table under ``out`` and return ``out``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(20, int(100 * scale)), int(2000 * scale)
    n_orders, n_events = int(15000 * scale), int(10000 * scale)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(
        out,
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    _write(
        out,
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        },
    )
    _write(
        out,
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        },
    )
    _write(
        out,
        "part",
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
    )
    odate = EPOCH_1995 + rng.integers(0, 2404, n_orders) * DAY_US
    _write(
        out,
        "orders",
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist(),
        },
    )
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(
        out,
        "lineitem",
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US),
        },
    )
    ets = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_events))
    _write(
        out,
        "events",
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ets),
            "user_id": rng.integers(0, 150, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
            "value": np.round(np.clip(rng.exponential(50, n_events), 0.01, 490), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    )
    texts = documents(rng, n_docs)
    _write(
        out,
        "documents",
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_docs)
    vec = centers[labels] + rng.normal(0, 0.8, (n_docs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(
        out,
        "embeddings",
        {
            "vec_id": np.arange(n_docs, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        },
    )
    return out


def documents(rng: np.random.Generator, n: int, dup_share: float = 0.05) -> list[str]:
    """Word-salad documents of 10–99 words; ``dup_share`` of them are
    near-copies of an earlier document (one word dropped, ``dup`` appended)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            del words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return texts
