"""Seeded synthetic input tables for the benchmark.

Writes the ten tables the engine's registry reads (``region`` … ``embeddings``)
as one parquet file each, with the same column names and types as the
TPC-H-like corpus the registry was written against. Row counts scale with
``sf``; values are drawn from a ``numpy`` generator seeded by the benchmark
seed, so the same seed gives byte-identical inputs.

The distributions follow the reference corpus the registry's oracles were
checked on (``inputs_check.py`` prints both side by side; the figures are in
``README.md``): uniform foreign keys that all resolve, no NULLs, ``documents``
with one in twenty rows a near-duplicate (another row's text plus the word
``dup``), and ``embeddings`` drawn uniformly from the unit sphere with labels
that carry no geometry.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
DUP_EVERY = 20  # one document in DUP_EVERY is a near-duplicate of another
EMBED_DIM = 64

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _us(ts: str) -> int:
    return int(datetime.fromisoformat(ts).timestamp() * 1_000_000)


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    day = 86_400 * 1_000_000
    lo_us, hi_us = _us(lo), _us(hi)
    return pa.array(
        lo_us + rng.integers(0, (hi_us - lo_us) // day + 1, n) * day,
        type=pa.timestamp("us"),
    )


def _pick(rng: np.random.Generator, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]) for _ in range(n)]
    # Near-duplicates sit at random positions and copy a random other row
    # (itself possibly a near-duplicate), so pairs and small chains both occur.
    for i in sorted(rng.choice(n, n // DUP_EVERY, replace=False)):
        other = int(rng.integers(0, n - 1))
        texts[i] = texts[other + (other >= i)] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_WEIGHTS)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table for scale ``sf`` under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_evt = max(10, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))

    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
                "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
                "ts": pa.array(
                    np.sort(_us("2024-01-01") + rng.integers(0, 30 * 86_400 * 1_000_000, n_evt)),
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
                "event_type": _pick(rng, EVENT_TYPES, n_evt),
                "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
