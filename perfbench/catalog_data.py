"""Seeded generator for the catalog tables the query catalog reads.

Writes the ten tables of the TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings`` as one parquet file each, with the same
schemas, key ranges and value distributions the query catalog was written
against (row counts scale with ``sf`` the same way). The benchmark builds
them from the fixed ``SEED``, so every run of a workload reads the same
tables; the run seed picks only the order of the queries.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "a the row column table part data key value hash join merge sort scan "
    "filter group agg window order line customer query batch stream spark "
    "vector small big fast slow"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPE = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
_SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_EMBED_DIM = 64
SEED = 42


def _days(start: dt.date, n: int, rng: np.random.Generator, count: int) -> np.ndarray:
    """``count`` midnight timestamps drawn uniformly from ``n`` days."""
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n, count).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, count: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, count), 2)


def _pick(rng: np.random.Generator, values, count: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), count, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad texts over a small vocabulary; one doc in twenty is a
    near-duplicate (an earlier doc plus a trailing ``dup`` token), which is
    what the dedup and near-duplicate queries look for."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_words = int(rng.integers(8, 100))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n_words)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors with a weak per-label centroid, so similarity search
    has structure but no trivially separable clusters."""
    centers = rng.normal(size=(10, _EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = 0.15 * centers[label] + rng.normal(scale=1 / 8, size=(n, _EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), _EMBED_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def generate(out_dir: str, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir`` as ``<name>.parquet``; return
    the row count of each."""
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_items, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(_REGIONS)),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPE, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_orders)),
        "o_orderdate": pa.array(_days(dt.date(1995, 1, 1), 2404, rng, n_orders)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_orders),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_items)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_items)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_items)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_items).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_items)),
        "l_discount": pa.array(rng.integers(0, 11, n_items) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n_items) / 100),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_items),
        "l_linestatus": _pick(rng, ("F", "O"), n_items),
        "l_shipdate": pa.array(_days(dt.date(1995, 1, 2), 2499, rng, n_items)),
    })
    # events: a 30-day stream with exponential inter-arrival gaps
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(1.0, n_events)
    offs = np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)
    ts = np.datetime64(dt.date(2024, 1, 1), "us") + offs.astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
