"""Seeded synthetic inputs for the query workloads.

Writes the ten tables the registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names, physical types and value
domains of the TPC-H-ish star schema the registry queries are written
against. Everything is drawn from ``numpy.random.default_rng(seed)``,
so one seed gives byte-identical files.

Sizes: 1,000 orders, about 4,000 lineitems, 100 customers, 7,000
events, 400 documents, 400 embeddings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("blue", "cold", "small", "red", "big", "green", "hot", "old")
PART_NOUNS = ("widget", "anvil", "gear", "bolt", "spring", "valve", "panel", "cog")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small query customer "
    "stream filter group big vector"
).split()
EMBED_DIM = 64

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _ts_days(days: np.ndarray) -> pa.Array:
    """Midnight timestamps (microseconds, no zone) from epoch days."""
    return pa.array(days.astype("int64") * 86_400_000_000, pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Values with exactly two decimals, like the reference tables."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns ``{table: rows}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders, n_cust, n_part, n_supp = 1000, 100, 200, 10
    rows: dict[str, int] = {}

    def emit(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows

    emit("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    }))
    emit("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    emit("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }))
    emit("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    emit("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PART_WORDS[a]} {PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2),
    }))

    first, last = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    o_days = rng.integers(first, last + 1, n_orders)
    emit("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts_days(o_days),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    }))

    lines_per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines_per)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    n_li = len(l_order)
    ship = o_days[l_order] + rng.integers(1, 122, n_li)
    emit("lineitem", pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(ship),
    }))

    n_events = 7 * n_orders
    start_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    span_us = 30 * 86_400_000_000
    ev_ts = np.sort(start_us + rng.integers(0, span_us, n_events))
    emit("events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_ts, pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": _money(rng, 0.01, 500.0, n_events),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    }))

    n_docs = 400
    texts = [
        " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
        for k in rng.integers(8, 90, n_docs)
    ]
    # a few exact copies (modulo case and spacing) for the dedup queries
    for i in range(0, n_docs, 37):
        src = texts[int(rng.integers(0, n_docs))]
        texts[i] = "  " + src.upper() if i % 2 else src
    emit("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    n_vec = 400
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emit("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }))
    return rows
