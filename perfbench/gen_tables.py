"""Seeded catalog tables for the ``catalog_mix`` workload.

Writes the ten parquet tables the query catalog reads (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``) with the
column names and Arrow types the catalog expects, at about the size of
the engine's sf0.01 scale. The same seed gives byte-identical files.

The values are shaped so every query the workload times has real work
and a deterministic answer: order dates straddle the 1998 cut-off the
shipping-priority join filters on, prices carry two decimals, a tenth
of the documents are near-copies of others (so MinHash/LSH finds
candidate pairs), embeddings cluster around ten labelled centroids, and
event timestamps have microsecond resolution.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a data row column table query join group order sort filter scan "
    "merge hash window batch stream spark key value part line customer "
    "vector big small fast slow agg index cache shuffle plan stage task "
    "node graph model token"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
PART_WORDS = ["cold", "small", "large", "shiny", "red", "green"]
PART_TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"]

N_CUSTOMERS = 1500
N_SUPPLIERS = 100
N_PARTS = 2000
N_ORDERS = 15000
N_EVENTS = 10000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def write_tables(out_dir: str, seed: int) -> str:
    """Write every table as ``<name>.parquet`` under ``out_dir`` and
    return ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(N_CUSTOMERS, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS, dtype=np.int32)),
        "c_acctbal": _cents(rng, -99_999, 999_999, N_CUSTOMERS),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMERS),
    }
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS, dtype=np.int32)),
        "s_acctbal": _cents(rng, -99_999, 999_999, N_SUPPLIERS),
    }
    tables["part"] = {
        "p_partkey": pa.array(np.arange(N_PARTS, dtype=np.int64)),
        "p_name": [f"{w} widget" for w in _pick(rng, PART_WORDS, N_PARTS)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": _pick(rng, PART_TYPES, N_PARTS),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS, dtype=np.int32)),
        "p_retailprice": (90_000 + np.arange(N_PARTS) * 10) / 100.0,
    }
    order_day = rng.integers(0, 6 * 365, N_ORDERS)
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, N_ORDERS),
        "o_orderdate": _days(order_day),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    }
    tables["lineitem"] = _lineitem(rng, order_day)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _pick(rng, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """Two-decimal doubles in [lo, hi) hundredths."""
    return rng.integers(lo, hi, n) / 100.0


def _days(day: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + day.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def _lineitem(rng, order_day: np.ndarray) -> dict:
    lines = rng.integers(1, 8, N_ORDERS)
    orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    n = len(orderkey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.integers(90_000, 210_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(order_day[orderkey] + rng.integers(1, 122, n)),
    }


def _events(rng) -> dict:
    ts = np.sort(rng.integers(0, 30 * _DAY_US, N_EVENTS))
    return {
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": _cents(rng, 1, 50_000, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    }


def _documents(rng) -> dict:
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.1:
            # A near-copy of an earlier document: a few words replaced.
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), rng.integers(10, 90))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng) -> dict:
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.standard_normal((10, DIM))
    vecs = (centroids[labels] + rng.standard_normal((N_VECS, DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
