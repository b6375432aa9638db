"""Seeded input generator for the benchmark.

Writes the ten tables the engine's queries read (``region nation
customer supplier part orders lineitem events documents embeddings``)
as one parquet file each, with the column names, parquet types and
value distributions of the repository's test data (TESTDATA.md). The same
``(seed, scale)`` always writes the same rows.

``scale`` plays the role of the TPC-H scale factor: 0.01 gives
15 000 orders, 60 000 line items, 10 000 events, 500 documents and
500 embeddings.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "plate", "gizmo", "rod"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "es", "fr", "de", "zh"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]

_ORDER_START = datetime(1995, 1, 1)
_ORDER_DAYS = 2403          # through 2001-08-01
_SHIP_START = datetime(1995, 1, 2)
_SHIP_DAYS = 2498           # through 2001-11-04
EVENT_START = datetime(2024, 1, 1)
EVENT_DAYS = 30


def _days(start: datetime, offsets: np.ndarray) -> pa.Array:
    """Midnight timestamps ``start + offsets`` days, microsecond unit."""
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Short bag-of-words texts; 5 % are near-duplicates of an earlier
    original (its text plus a trailing ``dup`` token) and a handful are
    exact copies, so every dedup stage has work to find. Each copy
    points at an original that is not itself a copy, so duplicate
    clusters are pairs and resolve the same way per day and in batch."""
    lengths = rng.integers(10, 101, n)
    texts = [
        " ".join(_VOCAB[i] for i in rng.integers(0, len(_VOCAB), k))
        for k in lengths
    ]
    n_near = max(1, n // 20)
    n_exact = max(1, n // 600)
    copies = rng.choice(np.arange(n // 4, n), n_near + n_exact, replace=False)
    originals = rng.choice(np.arange(0, n // 4), n_near + n_exact, replace=False)
    for j, (c, o) in enumerate(zip(copies, originals)):
        texts[c] = texts[o] + " dup" if j < n_near else texts[o]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten weak label centroids."""
    centroids = rng.normal(0.0, 0.14 / np.sqrt(dim), (10, dim)) * np.sqrt(dim)
    labels = rng.integers(0, 10, n)
    x = centroids[labels] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def generate(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """Write every table under ``out_dir``; return row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = max(10, n_cust // 10)
    n_docs = max(100, int(50_000 * scale))
    n_emb = max(100, int(50_000 * scale))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part).tolist(),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(_ORDER_START, rng.integers(0, _ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(_SHIP_START, rng.integers(0, _SHIP_DAYS + 1, n_li)),
    })
    # Events: a sorted arrival stream over EVENT_DAYS days, ids in
    # arrival order, exponential-ish values.
    span_us = EVENT_DAYS * 86_400_000_000
    offsets = np.sort(rng.integers(0, span_us, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.datetime64(EVENT_START, "us") + offsets.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_emb)
    for name in TABLES:
        _write(out_dir, name, tables[name])
    return {name: tables[name].num_rows for name in TABLES}


def event_day(i: int) -> datetime:
    """Calendar start of event day ``i`` (0-based)."""
    return EVENT_START + timedelta(days=i)
