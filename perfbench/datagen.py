"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the query registry reads (TPC-H-like star schema
plus `events`, `documents` and `embeddings`) as one parquet file each,
with the same column names, arrow types and timestamp flavor
(microseconds, naive) as the repository's test data. Sizes follow the
TPC-H scale factor `sf`; the values are drawn from `seed`, so the same
seed gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
# the tables' seed; a run's own seed shapes the workload, not the tables
DATA_SEED = 42
WORDS = np.array(
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the".split()
)
LANGS = np.array(["en", "en", "en", "es", "zh", "de", "fr"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
ADJECTIVES = np.array(["blue", "old", "red", "small", "new", "hot", "large", "cold"])
NOUNS = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    span = (hi - lo).days
    d = np.datetime64(lo, "us") + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]"
    )
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    """`n` events spread uniformly over EVENT_DAYS days, ids in time
    order, distinct microsecond timestamps."""
    rng = np.random.default_rng([seed, 1])
    span_us = EVENT_DAYS * 86_400_000_000
    offs = np.unique(rng.integers(0, span_us, n + n // 8))
    offs = np.sort(rng.choice(offs, n, replace=False))
    ts = np.datetime64(EVENTS_START, "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), rng.integers(8, 100))]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> dict:
    centers = rng.normal(size=(k, dim))
    centers *= 1.15 / np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, n).astype(np.int32)
    raw = centers[label] + rng.normal(size=(n, dim))
    vecs = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write all ten tables for scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders = int(1_500_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(
            np.char.add(np.char.add(ADJECTIVES[rng.integers(0, 8, n_part)], " "),
                        NOUNS[rng.integers(0, 8, n_part)])
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2)),
        "o_orderdate": _days(rng, n_orders, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_orders)]),
    })
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), per_order)
    first = np.repeat(np.cumsum(per_order) - per_order, per_order)
    flags = np.array([("A", "F"), ("N", "F"), ("R", "F"), ("A", "O"), ("N", "O"), ("R", "O")])
    rf = flags[rng.integers(0, 6, n_li)]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n_li) - first + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rf[:, 0]),
        "l_linestatus": pa.array(rf[:, 1]),
        "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    pq.write_table(
        events_table(seed, int(1_000_000 * sf), max(150, int(15_000 * sf))),
        os.path.join(out_dir, "events.parquet"),
    )
    _write(out_dir, "documents", _documents(rng, int(50_000 * sf)))
    _write(out_dir, "embeddings", _embeddings(rng, max(500, int(20_000 * sf))))
    return out_dir
