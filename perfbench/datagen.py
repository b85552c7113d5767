"""Seeded generator for the ten fixture tables.

Writes the schemas and value domains described in FIXTURES.md (a
TPC-H-like star schema, an ``events`` stream table and the two
LLM-pipeline tables) so the benchmark never reads inputs from outside
its own checkout. The same ``(sf, seed)`` always gives byte-identical
values; row counts follow the fixture ratios.

Each table is a directory ``{out}/{table}.parquet`` holding one part
file, so :func:`rewrite_subset` can replace a table in place under the
same path with a new part-file name, the way a delivery job overwrites
its output.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
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


def _days_us(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, size) * np.timedelta64(1, "D")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (the fixture ratios)."""
    orders = max(1, round(1_500_000 * sf))
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": orders,
        "lineitem": 4 * orders,
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at ``sf``, drawn from ``seed``."""
    n = sizes(sf)
    # one independent stream per table: adding a column to one table
    # leaves every other table's values unchanged
    rngs = dict(zip(TABLES, (np.random.default_rng(s)
                             for s in np.random.SeedSequence(seed).spawn(len(TABLES)))))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r, k = rngs["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, k)],
    })

    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r, k = rngs["part"], n["part"]
    keys = np.arange(k)
    names = [f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
             for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))]
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": np.array(_PART_TYPES)[r.integers(0, 6, k)],
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    r, k = rngs["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": pa.array(_days_us("1995-01-01", 2403, k, r), pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, k)],
    })

    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": pa.array(_days_us("1995-01-02", 2498, k, r), pa.timestamp("us")),
    })

    r, k = rngs["events"], n["events"]
    offs = np.sort(r.integers(0, 30 * _US_PER_DAY, k))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, k // 67), k), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.maximum(np.round(r.exponential(50.0, k), 2), 0.01),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r, k = rngs["documents"], n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 0 and r.random() < 0.05:
            # near-duplicate: an earlier document with a marker token
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(_VOCAB)[r.integers(0, len(_VOCAB), r.integers(10, 100))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[r.choice(5, k, p=_LANG_P)],
        "source": [f"src{s}" for s in r.integers(0, 20, k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r, k = rngs["embeddings"], n["embeddings"]
    centers = r.normal(size=(10, 64))
    labels = r.integers(0, 10, k)
    vecs = 0.15 * centers[labels] + r.normal(size=(k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_table(out_dir: str, name: str, table: pa.Table) -> str:
    """Replace ``{out_dir}/{name}.parquet`` with one new part file."""
    tdir = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(tdir, exist_ok=True)
    for old in os.listdir(tdir):
        os.remove(os.path.join(tdir, old))
    path = os.path.join(tdir, f"part-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, path)
    return path


def write_all(out_dir: str, tables: dict[str, pa.Table]) -> None:
    for name, t in tables.items():
        write_table(out_dir, name, t)


def rewrite_subset(out_dir: str, name: str, base: pa.Table, rng,
                   keep: float = 0.9) -> int:
    """Rewrite table ``name`` in place as a seeded row subset of
    ``base`` (same path, new part-file name); returns rows kept."""
    mask = rng.random(base.num_rows) < keep
    sub = base.filter(pa.array(mask))
    write_table(out_dir, name, sub)
    return sub.num_rows
