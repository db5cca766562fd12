"""Seeded generator for the query workloads' input tables.

Writes the ten catalog tables (``region nation customer supplier part
orders lineitem events documents embeddings``) as one parquet file
each, with the schemas and value domains of the engine's TPC-H-ish
test data: uniform keys, two-decimal money columns, order dates
1995-01-01 .. 2001-08-01, 30 days of events over 150 users, documents
drawn from a 30-word vocabulary (5% of them near-duplicates that end
in ``dup``), and 64-dimensional unit embeddings around 10 labelled
centres. ``sf`` scales row counts the same way the test data does
(sf 0.01: 60k lineitem rows).

The same (seed, sf) always gives byte-identical tables.
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
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()

_ORDER_DAY0 = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_DAY0).days
_SHIP_DAY0 = dt.datetime(1995, 1, 2)
_SHIP_DAYS = (dt.datetime(2001, 11, 4) - _SHIP_DAY0).days
_EVENT_T0 = dt.datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day0, span, rng, n):
    days = rng.integers(0, span + 1, n)
    return pa.array(
        np.datetime64(day0, "us") + days.astype("timedelta64[D]"),
        pa.timestamp("us"),
    )


def _documents(rng, n):
    texts = []
    for _ in range(n):
        n_chars = int(rng.integers(48, 554))
        words = rng.choice(WORDS, n_chars // 3 + 2)
        texts.append(" ".join(words)[:n_chars])
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n, dim=64, labels=10):
    centres = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = 0.14 * centres[label] + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(label, pa.int32()),
        }
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for one (seed, scale factor)."""
    rng = np.random.default_rng([seed, 20240101])
    n_cust, n_orders = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_part = int(6_000_000 * sf), int(200_000 * sf)
    n_supp, n_events = max(10, int(10_000 * sf)), int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": [
                    SEGMENTS[i] for i in rng.integers(0, 5, n_cust)
                ],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [
                    f"Brand#{i}" for i in rng.integers(1, 26, n_part)
                ],
                "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(
                    900.0 + (np.arange(n_part) % 1000) / 10.0, 1
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(0, n_cust, n_orders), pa.int64()
                ),
                "o_orderstatus": [
                    "FOP"[i] for i in rng.integers(0, 3, n_orders)
                ],
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
                "o_orderdate": _days(_ORDER_DAY0, _ORDER_DAYS, rng, n_orders),
                "o_orderpriority": [
                    PRIORITIES[i] for i in rng.integers(0, 5, n_orders)
                ],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(
                    rng.integers(0, n_orders, n_line), pa.int64()
                ),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": ["ANR"[i] for i in rng.integers(0, 3, n_line)],
                "l_linestatus": ["FO"[i] for i in rng.integers(0, 2, n_line)],
                "l_shipdate": _days(_SHIP_DAY0, _SHIP_DAYS, rng, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_events), pa.int64()),
                "ts": pa.array(
                    np.datetime64(_EVENT_T0, "us")
                    + np.sort(rng.integers(0, _EVENT_SPAN_US, n_events)).astype(
                        "timedelta64[us]"
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
                "event_type": [
                    EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)
                ],
                "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
                "props": [
                    f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)
                ],
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    return out


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
