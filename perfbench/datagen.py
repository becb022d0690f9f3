"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the engine's queries read (a TPC-H-like star schema,
an ``events`` stream, a ``documents`` corpus and an ``embeddings`` table)
as one parquet file each. Schemas, value domains and shapes follow the
fixture tables the engine's tests use: the same column names and types,
the same categorical values, a sorted event clock, and 5% of documents
that repeat another document's text with a trailing ``" dup"`` token, so
the dedup and similarity operators find real near-duplicates.

``generate(out_dir, sf, seed)`` is a pure function of ``(sf, seed)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.14, 0.15, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10
N_SOURCES = 20

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": int(15_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"), type=pa.timestamp("us"))


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
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
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": rng.choice(names, npart),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _DAY_US),
    })
    ne = n["events"]
    month_us = 30 * _DAY_US
    gaps = rng.exponential(month_us / ne, ne)
    clock = np.cumsum(gaps)
    clock = (clock * (month_us - 1) / clock[-1]).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(_EPOCH_2024 + clock),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    lengths = rng.integers(10, 100, nd)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        j = int(rng.integers(0, nd))
        if j != i:
            texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    nv = n["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, nv)
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.normal(0.0, 0.125, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def generate(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
