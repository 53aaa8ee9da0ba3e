"""Seeded inputs for the benchmark.

The base tables are generated once per checkout from a fixed seed, with the
schema and value distributions of the engine's sf0.01 fixtures (TPC-H-ish
star schema, an ``events`` stream, a ``documents`` corpus with 5% near-dup
copies, and unit-norm 64-dim ``embeddings``). The run seed never changes the
content: it only permutes row order and splits each table into 1-4 files
(read workloads), or assigns and orders the documents into micro-batches
(ingest). So every seed has the same input volume and the same oracle.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# sf0.01 row counts of the engine's fixtures
ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
USERS = 150

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_COLORS = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
_NOUNS = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]


def _day_ts(rng, n, start, end):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"], n
        ),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = ROWS["part"]
    keys = np.arange(n, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{_COLORS[a]} {_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n
        ),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    })
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, ROWS["orders"], n).astype("int64"),
        "l_partkey": rng.integers(0, ROWS["part"], n).astype("int64"),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": _day_ts(rng, n, "1995-01-02", "2001-11-04"),
    })
    n = ROWS["events"]
    start_us = np.datetime64("2024-01-01", "us").astype("int64")
    span_us = 30 * 86400 * 10**6
    ts = start_us + np.sort(rng.integers(0, span_us, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, USERS, n).astype("int64"),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng)
    n = ROWS["embeddings"]
    vec = rng.standard_normal((n, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def _documents(rng) -> pa.Table:
    """Bag-of-words docs over a 30-word vocab; 5% are an earlier doc plus a
    trailing ``dup`` token (the near-dup population the dedup stages find)."""
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(_WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    langs = rng.choice(["en", "zh", "de", "fr", "es"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def write_base(out_dir: Path) -> None:
    """Write every base table as one parquet file under ``out_dir``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in base_tables().items():
        pq.write_table(table, out_dir / f"{name}.parquet")


def fingerprint(base_dir: Path) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        h.update(name.encode())
        h.update((base_dir / f"{name}.parquet").read_bytes())
    return h.hexdigest()[:16]


def seeded_tables(base_dir: Path, out_dir: Path, seed: int) -> None:
    """Per-run read inputs: each table row-permuted and split into 1-4 files
    under ``<out_dir>/<table>.parquet/``."""
    rng = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(base_dir / f"{name}.parquet")
        table = table.take(rng.permutation(table.num_rows))
        parts = int(rng.integers(1, 5))
        bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
        tdir = out_dir / f"{name}.parquet"
        tdir.mkdir(parents=True, exist_ok=True)
        for i in range(parts):
            chunk = table.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(chunk, tdir / f"part-{i:05d}.parquet")


def seeded_batches(base_dir: Path, out_dir: Path, seed: int, n_batches: int) -> list[str]:
    """Per-run ingest inputs: documents assigned to ``n_batches`` micro-batches
    of equal size, in a seed-chosen order; one parquet file per batch."""
    rng = np.random.default_rng(seed)
    docs = pq.read_table(base_dir / "documents.parquet")
    order = rng.permutation(docs.num_rows)
    bounds = np.linspace(0, docs.num_rows, n_batches + 1).astype(int)
    out_dir.mkdir(parents=True, exist_ok=True)
    paths = []
    for i in range(n_batches):
        path = out_dir / f"batch-{i:03d}.parquet"
        pq.write_table(docs.take(order[bounds[i]:bounds[i + 1]]), path)
        paths.append(os.fspath(path))
    return paths
