"""Deterministic input tables for the benchmark.

Writes the ten tables the engine reads (``catalog.TABLES``) at the
sf0.1 shape: same schemas, row counts and value distributions as the
sf0.1 testdata (TESTDATA.md), measured from its parquet files (see
perfbench/NOTES.md). The benchmark generates its own inputs so that it
reads and writes nothing outside its checkout.

The data seed is fixed: every run of every workload sees the same
bytes, so runs with different ``--seed`` values (which only reorder
calls) measure the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the generated bytes change so a cached copy is rebuilt.
VERSION = "1"
SF_NAME = "sf0.1"

N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
N_ORDERS = 150_000
N_LINEITEMS = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
N_NEAR_DUP_DOCS = 250
N_VECS = 2_000
EMB_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
# The testdata's document vocabulary; near-duplicate documents are an
# original's text with " dup" appended.
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]


def _days(rng, start: str, stop: str, n: int) -> np.ndarray:
    """Midnight timestamps drawn uniformly from [start, stop]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(stop, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMERS),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIERS, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
    })
    pk = np.arange(N_PARTS, dtype=np.int64)
    names = np.char.add(
        np.char.add(np.array(COLORS)[rng.integers(0, 8, N_PARTS)], " "),
        np.array(NOUNS)[rng.integers(0, 8, N_PARTS)],
    )
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(names),
        "p_brand": pa.array(
            np.char.add("Brand#", rng.integers(1, 26, N_PARTS).astype(str))
        ),
        "p_type": _pick(rng, PART_TYPES, N_PARTS),
        "p_size": rng.integers(1, 51, N_PARTS, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    n = N_LINEITEMS
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n, dtype=np.int64),
        "l_partkey": rng.integers(0, N_PARTS, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, N_EVENTS))
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
        "value": _money(rng, 0.0, 560.21, N_EVENTS),
        "props": pa.array(
            np.char.add(np.char.add('{"k": ', rng.integers(0, 100, N_EVENTS).astype(str)), "}")
        ),
    })
    out["documents"] = _documents(rng)
    vecs = rng.standard_normal((N_VECS, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, N_VECS, dtype=np.int32),
    })
    return out


def _documents(rng) -> pa.Table:
    n_orig = N_DOCS - N_NEAR_DUP_DOCS
    lengths = rng.integers(10, 101, n_orig)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    # Near-duplicates copy a random original; two copies of one original
    # are exact duplicates of each other, as in the testdata.
    texts += [texts[i] + " dup" for i in rng.integers(0, n_orig, N_NEAR_DUP_DOCS)]
    order = rng.permutation(N_DOCS)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def ensure(root: str) -> str:
    """Write the tables under ``root/<SF_NAME>`` unless a complete copy
    of this VERSION is already there; return that directory."""
    sf_dir = os.path.join(root, SF_NAME)
    marker = os.path.join(sf_dir, "_GEN_VERSION")
    try:
        with open(marker) as fh:
            if fh.read() == VERSION:
                return sf_dir
    except OSError:
        pass
    os.makedirs(sf_dir, exist_ok=True)
    for name, tbl in tables().items():
        pq.write_table(tbl, os.path.join(sf_dir, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write(VERSION)
    return sf_dir
