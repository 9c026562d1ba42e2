"""Seeded inputs for the ``suite`` workload.

Writes the ten tables the headline queries read (a TPC-H-like star schema,
an ``events`` stream, ``documents`` with planted near-duplicates and unit
``embeddings``) as one parquet file each. Shapes and distributions follow
the engine's test data at sf0.005; the same seed gives byte-identical values.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "lineitem": 30000,
    "events": 5000,
    "documents": 200,
    "embeddings": 200,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL", "MEDIUM"]
PART_ADJ = ["small", "red", "blue", "green", "large", "shiny", "matte", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.13, 0.14, 0.15]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
NEAR_DUP_RATE = 0.05
EMBED_DIM = 64
N_LABELS = 10


def _money(rng: np.random.RandomState, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.RandomState, start: datetime, span_days: int, n: int) -> list:
    return [start + timedelta(days=int(d)) for d in rng.randint(0, span_days, n)]


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.RandomState(seed)
    n = SIZES
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": pa.array(rng.randint(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": [SEGMENTS[k] for k in rng.randint(0, 5, n["customer"])],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": pa.array(rng.randint(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(
                    rng.randint(0, len(PART_ADJ), n["part"]),
                    rng.randint(0, len(PART_NOUN), n["part"]),
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.randint(1, 26, n["part"])],
            "p_type": [PART_TYPES[k] for k in rng.randint(0, len(PART_TYPES), n["part"])],
            "p_size": pa.array(rng.randint(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900.0 + np.arange(n["part"]) % 1000 / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), i64),
            "o_custkey": pa.array(rng.randint(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.randint(0, 3, n["orders"])],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": pa.array(
                _days(rng, datetime(1992, 1, 1), 7 * 365, n["orders"]), ts
            ),
            "o_orderpriority": [PRIORITIES[k] for k in rng.randint(0, 5, n["orders"])],
        }
    )
    qty = rng.randint(1, 51, n["lineitem"]).astype(float)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.randint(0, n["orders"], n["lineitem"]), i64),
            "l_partkey": pa.array(rng.randint(0, n["part"], n["lineitem"]), i64),
            "l_suppkey": pa.array(rng.randint(0, n["supplier"], n["lineitem"]), i64),
            "l_linenumber": pa.array(rng.randint(1, 8, n["lineitem"]), i32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n["lineitem"]), 2),
            "l_discount": np.round(rng.randint(0, 11, n["lineitem"]) / 100.0, 2),
            "l_tax": np.round(rng.randint(0, 9, n["lineitem"]) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[k] for k in rng.randint(0, 3, n["lineitem"])],
            "l_linestatus": [("O", "F")[k] for k in rng.randint(0, 2, n["lineitem"])],
            "l_shipdate": pa.array(
                _days(rng, datetime(1992, 1, 1), 10 * 365, n["lineitem"]), ts
            ),
        }
    )
    offsets = np.sort(rng.uniform(0, 30 * 86400, n["events"]))
    start = datetime(2024, 1, 1)
    out["events"] = pa.table(
        {
            "event_id": pa.array(range(n["events"]), i64),
            "ts": pa.array(
                [start + timedelta(microseconds=int(s * 1e6)) for s in offsets], ts
            ),
            "user_id": pa.array(rng.randint(0, 150, n["events"]), i64),
            "event_type": [EVENT_TYPES[k] for k in rng.randint(0, 5, n["events"])],
            "value": _money(rng, 0.0, 500.0, n["events"]),
            "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n["events"])],
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng: np.random.RandomState, n: int) -> pa.Table:
    """Random-word texts; ~5% are an earlier text plus one trailing word,
    so every dedup query has true near-duplicate pairs to find."""
    texts: list[str] = []
    for k in range(n):
        if k >= 10 and rng.random_sample() < NEAR_DUP_RATE:
            texts.append(texts[rng.randint(0, k)] + " dup")
        else:
            words = rng.randint(0, len(VOCAB), rng.randint(10, 100))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[k] for k in rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{k % 20}" for k in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.RandomState, n: int) -> pa.Table:
    """Unit vectors drawn around ten weak label centroids."""
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.randint(0, N_LABELS, n)
    vecs = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write(seed: int, out_dir: str) -> dict[str, pa.Table]:
    """Write every table under ``out_dir`` and return them."""
    os.makedirs(out_dir, exist_ok=True)
    out = tables(seed)
    for name, tbl in out.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out
