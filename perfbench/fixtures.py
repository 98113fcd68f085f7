"""Seeded generator for the registry tables the `registry_mix` workload reads.

Writes one parquet file per table with the schemas the registry queries and
their DuckDB oracles expect (region nation customer supplier part orders
lineitem events documents embeddings). Table sizes are fixed, so every seed
asks the engine for the same amount of work; the seed only changes values.
Value distributions follow the repository's synthetic TPC-H-shaped fixtures:
independent uniform draws, money rounded to cents, one events chain per user.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the TPC-H-shaped test data at scale factor 0.1; SCALE is the
# share of them generated, the largest that keeps the runs of both workloads
# inside the benchmark's time budget (perfbench/README.md, "Why this fixture
# scale").
SF01_ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "event_users": 1500,
    "documents": 5000,
    "embeddings": 2000,
}
SCALE = 0.1
SIZES = {k: round(v * SCALE) for k, v in SF01_ROWS.items()}
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(np_), pa.int64()),
            "p_name": [
                f"{a} {b}" for a, b in zip(rng.choice(_ADJ, np_), rng.choice(_NOUN, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": rng.choice(_PTYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    gaps_us = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n["event_users"], ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = []
    for _ in range(nd):
        words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        words += ["dup"] * int(rng.random() < 0.05)
        texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, nd, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.normal(size=(nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 5, nv), pa.int32()),
        }
    )
    return t


def write_fixture(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table for `seed` under `out_dir`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
