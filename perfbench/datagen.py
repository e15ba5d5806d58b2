"""Seeded synthetic query tables for the ``inventory`` workload.

The faces read ten parquet tables (a TPC-H-like star schema plus the
``events``, ``documents`` and ``embeddings`` tables).  This module
writes them from a seed, with the column names, physical types and value
shapes of the project's reference test data: same vocabularies, key
ranges relative to the row counts, value ranges and near-duplicate
documents.  The same ``(seed, scale)`` writes the same bytes.

``scale`` follows the TPC-H convention used by the reference data:
``scale=0.01`` gives 60,000 ``lineitem`` rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.43, 0.14, 0.15, 0.14, 0.14)
EMBED_DIM = 64
N_LABELS = 10


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (fixed-size tables stay fixed)."""
    n = lambda base, floor=1: max(floor, int(round(base * scale)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000, 10),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _days(rng, n: int, start: dt.date, span_days: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # ~5 % near-duplicates: an earlier document's prefix plus a marker
    # word, the shape the dedup / similarity faces look for
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            src = texts[int(rng.integers(0, i))].split()
            keep = max(8, int(len(src) * rng.uniform(0.2, 1.0)))
            texts[i] = " ".join(src[:keep] + ["dup"])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    c = row_counts(scale)
    n_users = max(10, c["customer"] // 10)
    ar = lambda n: pa.array(np.arange(n), pa.int64())  # noqa: E731
    i32 = lambda v: pa.array(v, pa.int32())  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(np.arange(5)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": i32(np.arange(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        }),
    }
    n = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": ar(n),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })
    n = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": ar(n),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = c["part"]
    out["part"] = pa.table({
        "p_partkey": ar(n),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(COLORS, n), rng.choice(NOUNS, n))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PTYPES, n)),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
    })
    n = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": ar(n),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), 2404),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })
    n = c["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n)),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n)),
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), 2499),
    })
    n = c["events"]
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    out["events"] = pa.table({
        "event_id": ar(n),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    out["documents"] = _documents(rng, c["documents"])
    out["embeddings"] = _embeddings(rng, c["embeddings"])
    return out


def write(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns rows
    per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
