"""Deterministic benchmark tables.

The benchmark reads no data from outside its checkout, so it generates the
TPC-H-like star schema (plus the ``events``, ``documents`` and
``embeddings`` tables the operator keys read) with the column names, types
and value ranges that ``__spark_entry__`` and its DuckDB oracles expect.
The tables depend only on the scale factor and ``DATA_SEED``; the workload
seed picks queries, never data. Each scale is written once under
``.perfbench/`` in the checkout and reused by later runs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
#: Bump when the generator changes so stale caches are not reused.
DATA_VERSION = 2

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "large", "green"]
_NOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY_US = 86_400 * 10**6


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return (d * _DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def make_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All benchmark tables at scale factor ``sf`` (0.1 = 600k lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(
            _pick(rng, _ADJ, n_part), _pick(rng, _NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    # Events cover 30 days at every scale (the fixtures' span).
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    ts_us = (np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
             + np.cumsum(gaps * 1e6).astype(np.int64))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_us.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # 10-99 words from a 31-word vocabulary; then 5% of documents become a
    # copy of another document plus a trailing "dup", so near-duplicate
    # pairs exist as in the repository's fixtures (perfbench/README.md).
    texts = [" ".join(_pick(rng, WORDS, int(rng.integers(10, 100))))
             for _ in range(n_doc)]
    for i in range(n_doc):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    # Random unit vectors with labels drawn independently of them: the
    # fixtures' embeddings have no cluster structure.
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def ensure_tables(root: str, sf: float) -> str:
    """Directory of ``<table>.parquet`` files at ``sf`` under ``root``,
    generating it on first use (atomically, so a killed run leaves no
    half-written cache)."""
    out = os.path.join(root, f"v{DATA_VERSION}-sf{sf:g}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)
    return out
