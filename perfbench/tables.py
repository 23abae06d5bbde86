"""Seeded tables for the ``registry_headline`` workload.

The registry queries read ``<dir>/<table>.parquet``.  This module writes
those tables from a seed, with the schema and value ranges of the
TPC-H-style fixture tables (FIXTURES.md table 3), so the benchmark
needs no input from outside its own checkout.  Only the
tables the benchmark's registry keys read are generated.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_US_PER_DAY = 86_400_000_000


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(np.int64))
    return (lo_d + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    text = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": text,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n)],
    })


def orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": np.asarray(("F", "O", "P"))[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, n_orders, n, dtype=np.int64),
        "l_partkey": rng.integers(0, 2000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 100, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.asarray(("A", "N", "R"))[rng.integers(0, 3, n)],
        "l_linestatus": np.asarray(("F", "O"))[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })


def write_tables(out_dir: str, seed: int, docs: int, orders_n: int) -> dict[str, int]:
    """Write every table under ``out_dir`` and return table → row count.

    ``docs`` sizes the documents table, ``orders_n`` the TPC-H-style
    tables, which keep the fixture tables' ratios to it: 10 orders per
    customer, 4 lineitem rows per order, and 2 events per 3 orders over
    one user per 100 orders.  The two are separate because the dedup
    keys' DuckDB twins compare every pair of documents."""
    rng = np.random.default_rng(seed)
    n_cust = max(1, orders_n // 10)
    tables = {
        "documents": documents(rng, docs),
        "events": events(rng, 2 * orders_n // 3, max(1, orders_n // 100)),
        "customer": customer(rng, n_cust),
        "orders": orders(rng, orders_n, n_cust),
        "lineitem": lineitem(rng, 4 * orders_n, orders_n),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
