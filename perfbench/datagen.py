"""Deterministic synthetic tables for the benchmark.

The benchmark may read nothing outside its checkout, so it writes its own
copy of the ten star-schema / events / corpus tables the engine's queries
expect (same names, schemas and value formats as the engine's test data:
two-decimal money, whole-number quantities, naive microsecond
timestamps, ``{"k": n}`` JSON props, a 30-word document vocabulary with
5% ``" dup"``-suffixed near-duplicates, unit-norm 64-d embeddings).

Tables depend only on the scale factor and the fixed ``TABLE_SEED``; the
workload seed never changes them, so every run of a workload scans the
same bytes. Writing all ten at sf0.01 takes about half a second.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(100, int(150_000 * sf))
    n_li = max(400, int(600_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(50, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _choice(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _choice(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    gaps = rng.exponential(30 * _US_PER_DAY / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _choice(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            words = rng.choice(len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _choice(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def write_tables(out_dir: str, sf: float) -> str:
    """Write ``<table>.parquet`` for every table at ``sf`` into ``out_dir``."""
    os.makedirs(out_dir)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
