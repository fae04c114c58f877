"""Seeded synthetic tables for the query_suite workload.

Same schemas as the repository's synthetic sf test tables (documents,
embeddings, events and the TPC-H-ish lineitem/orders/part the query
leaves read), drawn from one ``numpy`` generator so a seed fixes every
value. Sizes are the sf0.001 row counts, scaled by ``scale``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window".split()
)
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.39, 0.16, 0.16, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_DAY = np.datetime64("1995-01-01", "us")
DAY = np.timedelta64(86_400_000_000, "us")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 100, size=n)
    texts = [" ".join(VOCAB[rng.integers(0, len(VOCAB), size=k)]) for k in lens]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]),
            "source": pa.array([f"src{s}" for s in np.arange(n) % 20]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.standard_normal((labels, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, labels, size=n)
    vecs = centers[lab] + 0.35 * rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(lab.astype(np.int32), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = 30 * 86_400_000_000
    offs = np.sort(rng.integers(0, span_us, size=n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs),
            "user_id": pa.array(rng.integers(0, users, size=n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
            "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def _days(rng: np.random.Generator, n: int) -> pa.Array:
    return pa.array(EPOCH_DAY + rng.integers(0, 2500, size=n) * DAY)


def _orders(rng: np.random.Generator, n: int, customers: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, customers, n), pa.int64()),
            "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
            "o_orderdate": _days(rng, n),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
        }
    )


def _lineitem(rng: np.random.Generator, orders: int, parts: int, suppliers: int) -> pa.Table:
    lines = rng.integers(1, 8, size=orders)
    n = int(lines.sum())
    return pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(orders), lines), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, suppliers, n), pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
            ),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(1000, 100_000, n), 2)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2)),
            "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
            "l_shipdate": _days(rng, n),
        }
    )


def _part(rng: np.random.Generator, n: int) -> pa.Table:
    adjectives = np.array(["cold", "small", "shiny", "large", "red", "blue"])
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": pa.array([f"{a} widget" for a in adjectives[rng.integers(0, 6, n)]]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "PROMO"])[rng.integers(0, 3, n)]),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n) * 0.1, 2)),
        }
    )


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> list[str]:
    """Write every table the query leaves read under ``out_dir`` as
    ``<name>.parquet``; returns the table names."""
    rng = np.random.default_rng(seed)

    def k(n: int) -> int:
        return max(20, int(n * scale))

    orders, parts = k(1500), k(200)
    tables = {
        "documents": _documents(rng, k(500)),
        "embeddings": _embeddings(rng, k(500)),
        "events": _events(rng, k(1000), users=k(150)),
        "orders": _orders(rng, orders, customers=k(150)),
        "lineitem": _lineitem(rng, orders, parts, suppliers=k(10)),
        "part": _part(rng, parts),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)
