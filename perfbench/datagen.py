"""Deterministic input tables for the benchmark.

The engine's TPC-H-style entries read ten parquet tables from one
directory (``region nation customer supplier part orders lineitem events
documents embeddings``).  This module writes them with numpy + pyarrow,
so the benchmark needs nothing outside its checkout.  Schemas and value
domains follow the tables the entries were written against: two-decimal
doubles, midnight timestamps for order/ship dates, documents of 10-100
words over a 30-word vocabulary of which 5 % are an other document plus
a " dup" tail, and unit-norm 64-d float32 embeddings with one of ten
labels (the shapes of the sf0.1 tables the engine is tested on).

Row counts of the TPC-H tables scale with ``sf`` the TPC-H way
(lineitem = 6M x sf); the ``documents`` and ``embeddings`` tables have
``llm_rows`` rows each, set apart from ``sf`` so the dedup/similarity
entries can be given real data work while the TPC-H tables stay small.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()
#: share of documents that copy an other document and append " dup"
_NEAR_DUP = 0.05
_EMB_DIM = 64
_N_LABELS = 10
#: fixed generator seed: the tables are the same for every benchmark
#: seed, so a DuckDB oracle mismatch is a property of the engine
_DATA_SEED = 20240101


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _tables(sf: float, llm_rows: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(_DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_li).astype("float64")
    partkey = rng.integers(0, n_part, n_li).astype("int64")
    retail = 900.0 + (partkey % 1000) / 10.0
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail * rng.uniform(0.02, 2.3, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = _documents(rng, llm_rows)
    out["embeddings"] = _embeddings(rng, llm_rows)
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(rng.choice(_WORDS, int(k)))
        for k in rng.integers(10, 101, n)
    ]
    # near duplicates: an other document (possibly itself a near
    # duplicate) plus a " dup" tail
    for i in np.flatnonzero(rng.random(n) < _NEAR_DUP):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": np.arange(n, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, _N_LABELS, n).astype("int32"),
        }
    )


def ensure_tables(root: str, sf: float, llm_rows: int) -> str:
    """Write the tables for ``sf`` and ``llm_rows`` under ``root`` once;
    return their dir.

    A ``.done`` marker is written last, so a run killed mid-write
    regenerates instead of reading a partial directory.
    """
    out = os.path.join(root, f"sf{sf:g}-llm{llm_rows}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in _tables(sf, llm_rows).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, ".done"), "w") as fh:
        fh.write("ok\n")
    return out
