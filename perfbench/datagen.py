"""Benchmark inputs: the star-schema tables at sf0.1, generated from a fixed seed.

The generator reproduces the engine's seed-42 test data at sf0.1 value for
value in the eight tables the ``star_sql`` queries read (region, nation,
customer, supplier, part, orders, lineitem, events): the same NumPy
``default_rng(42)`` draws in the same order, the same category lists, the
same physical types and one row group per file.  ``fidelity.py`` checks
this against a copy of that data.  ``documents`` and ``embeddings`` have
the reference schemas but not its values; no ``star_sql`` query reads them,
and they exist because ``register_views`` registers every table.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SF = 0.1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]


def _days(rng, n, start, end):
    """``n`` naive timestamps at midnight, uniform over [start, end]."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def star_tables(sf: float = SF, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev, n_docs, n_vec = (
        int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    )
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    parts = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": parts,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (parts % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    # seconds drawn as floats, taken to whole nanoseconds, truncated to microseconds
    ev_ns = (np.sort(rng.uniform(0, 30 * 86_400, n_ev)) * 1e9).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01", "ns") + ev_ns.astype("timedelta64[ns]")).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(_pick(rng, _WORDS, int(k))) for k in rng.integers(10, 101, n_docs)]
    for i in range(0, n_docs - 1, 625):  # a few exact duplicates for the dedup queries
        texts[i + 1] = texts[i]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0, 1, (10, 64))
    vecs = centres[labels] + rng.normal(0, 1.5, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_star_tables(directory: str) -> dict[str, int]:
    """Write every table as ``<directory>/<name>.parquet``; return rows per table."""
    rows = {}
    for name, table in star_tables().items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
