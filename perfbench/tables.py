"""Deterministic generator for the `registry` workload's ten tables.

The tables follow the schemas, key ranges and row counts of the star
schema the registry queries are written against (TPC-H-like tables plus
`events`, `documents` and `embeddings`), at scale factor ``sf``
(0.1 gives 600 k lineitem rows). The seed changes the values, never
the sizes or distributions, so every seed asks the queries for the same
amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "window", "spark", "order", "data", "column",
    "join", "small", "line", "customer", "query", "the", "a", "big",
    "stream", "filter", "sort", "index", "group", "plan", "vector",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "MACHINERY", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "green", "large", "tiny", "shiny", "hot"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "cog", "pin", "nut", "washer"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO", "MEDIUM"]
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
LANGS = ["en", "zh", "es", "fr", "de"]
DAY_US = 86_400_000_000


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"))


def build(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    })
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys.astype(np.int64)),
        "p_name": pa.array([f"{PART_ADJ[i % 8]} {PART_NOUN[(i // 8) % 8]}" for i in keys]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    })
    start = np.datetime64("1995-01-01", "us").astype(np.int64)
    o_day = rng.integers(0, 2400, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _us(start + o_day * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    first = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), lines)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array((np.arange(n_li) - first + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _us(np.repeat(start + o_day * DAY_US, lines) + rng.integers(1, 96, n_li) * DAY_US),
    })
    ev0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _us(np.sort(ev0 + rng.integers(0, 30 * DAY_US, n_events))),
        "user_id": pa.array(rng.integers(0, max(50, n_events // 67), n_events)),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts over a small vocabulary, with 1 % exact and 5 %
    near duplicates (a tenth of the tokens replaced) so the dedup and
    similarity queries find pairs."""
    vocab = np.asarray(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(8, 100, n)]
    n_exact, n_near = n // 100, n // 20
    for j, dst in enumerate(rng.choice(np.arange(n // 2, n), n_exact + n_near, replace=False)):
        toks = texts[int(rng.integers(0, n // 2))].split()
        if j >= n_exact:
            for pos in rng.choice(len(toks), max(1, len(toks) // 10), replace=False):
                toks[pos] = str(vocab[rng.integers(0, len(vocab))])
        texts[int(dst)] = " ".join(toks)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Clustered 64-d float vectors with 2 % planted near-identical pairs."""
    centers = rng.normal(0, 1, (max(10, n // 50), dim))
    cluster = rng.integers(0, len(centers), n)
    vecs = 0.45 * centers[cluster] + rng.normal(0, 1, (n, dim))
    a = rng.choice(n // 2, n // 50, replace=False)
    vecs[a + n // 2] = vecs[a] + rng.normal(0, 0.01, (len(a), dim))
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32())),
        "label": pa.array((cluster % 10).astype(np.int32)),
    })


def write(out_dir: str, sf: float, seed: int) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=50_000)
    return out_dir
