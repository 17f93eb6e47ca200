"""Seeded TPC-H-like tables for the ``catalog_analytics`` workload.

Writes region, nation, customer, supplier, part, orders, lineitem,
events, documents and embeddings as parquet, one file per table, in
the column names and types the engine's ``plans.CATALOG`` queries and
their DuckDB oracles read. Value ranges are chosen so every query in
the benchmark mix has a non-empty result: ship dates span 1992-2002
around the TPC-H cut-offs, one market segment is ``BUILDING``, one
region is ``ASIA``, events carry ``purchase`` rows over three months,
documents contain the BM25 query terms.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "large", "blue", "green", "shiny", "matte", "tiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
EVENT_TYPES = ["click", "view", "purchase", "error", "add_to_cart"]
DOC_WORDS = ("key agg row scan slow fast table value part hash join filter "
             "spark a the line sort window order data column small big query "
             "customer stream batch merge group").split()

_DAY_US = 86_400_000_000
_EPOCH_1992 = np.datetime64("1992-01-01", "us")


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, scale: float) -> None:
    """Write every table under ``out_dir``.

    ``scale`` 1.0 is 10k customers, 100k orders and ~400k line items.
    """
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(10_000 * scale))
    n_supp = max(10, int(700 * scale))
    n_part = max(600, int(13_000 * scale))
    n_orders = max(500, int(100_000 * scale))
    n_events = max(1000, int(60_000 * scale))
    n_users = max(20, int(600 * scale))
    n_docs = max(100, int(3000 * scale))
    n_vecs = max(100, int(1500 * scale))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                                        rng.choice(PART_NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 56, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 * 0.1, 2)),
    })

    order_days = rng.integers(0, 11 * 365, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
        "o_orderdate": _ts(_EPOCH_1992.astype(np.int64) + order_days * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
    })
    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per_order)
    n_lines = len(l_order)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per_order]).astype(np.int32)
    ship_days = np.repeat(order_days, lines_per_order) + rng.integers(1, 122, n_lines)
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900, 2000, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": _ts(_EPOCH_1992.astype(np.int64) + ship_days * _DAY_US),
    })

    ev_start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(ev_start + rng.integers(0, 90 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.uniform(0, 100, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    doc_lens = rng.integers(20, 80, n_docs)
    texts = [" ".join(rng.choice(DOC_WORDS, k)) for k in doc_lens]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * n_docs),
        "source": pa.array([f"src{i % 5}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(0, 1, (n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n_vecs), pa.int32()),
    })
