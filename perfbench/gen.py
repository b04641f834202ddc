"""Seeded input generation for the benchmark workloads.

Every workload reads an sf-dir-shaped directory: one parquet file per
table name the engine's fixtures register (``fixtures.TPCH_TABLES``).
The tables are derived from the sf0.1 documents vendored in
``perfbench/data`` and from the sf0.1 key ranges (customer, supplier,
part, nation):

- key columns are shifted by a seed-derived offset, so every fixture
  coordinate the engine derives from a key (points, rectangle mosaic,
  L-shapes) moves with the seed;
- documents are a seeded sample of the vendored rows with seeded,
  permuted ids, so hash-keyed choices (holdouts, shards) move with the
  seed;
- tables the workloads never read are written empty with their schema.

The same seed gives byte-identical files (``inputs_digest``). Sizes are
fixed per workload in ``SIZES`` and do not depend on the seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# Rows per generated table. sf0.1 has 15000 customers, 1000 suppliers
# and 5000 documents. The 5000 documents hold 256 near-duplicate pairs
# (233 groups), so a 1000-document sample holds one with probability
# 1 - 3e-5, which curation's dedup check relies on; a smaller sample
# costs about as much to run, so the tiny set keeps 1000 documents.
SIZES = {
    "geo_reference": {"customer": 15000, "supplier": 1000},
    "curation": {"documents": 1000},
    "tiny": {"customer": 200, "supplier": 64, "documents": 1000},
}

_EMPTY = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64())]),
    "lineitem": pa.schema(
        [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
         ("l_suppkey", pa.int64())]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())]
    ),
    "events": pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64())]
    ),
}


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="zstd")


def _keys(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(0, 1_000_000) + 1 + np.arange(n, dtype=np.int64)


def _sample(rng, table: pa.Table, n: int, id_col: str) -> pa.Table:
    rows = np.sort(rng.choice(table.num_rows, size=n, replace=False))
    out = table.take(pa.array(rows))
    ids = rng.permutation(n).astype(np.int64) + rng.integers(0, 1_000_000)
    return out.set_column(out.schema.get_field_index(id_col), id_col,
                          pa.array(ids))


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's tables for ``seed`` into ``out_dir`` and
    return the row count of every non-empty table."""
    sizes = SIZES[workload]
    rng = np.random.default_rng([seed, 0x9E0])
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    key_tables = {
        "customer": ("c_custkey", sizes.get("customer", 0)),
        "supplier": ("s_suppkey", sizes.get("supplier", 0)),
        "part": ("p_partkey", sizes.get("part", 0)),
        "nation": ("n_nationkey", 25),
    }
    for name, (col, n) in key_tables.items():
        # draw every offset whatever the workload, so a table's keys
        # depend on the seed alone
        keys = _keys(rng, n)
        _write(pa.table({col: pa.array(keys)}), out_dir, name)
        if n and name != "nation":
            rows[name] = n
    base = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"))
    docs = _sample(rng, base, sizes.get("documents", 0), "doc_id")
    _write(docs, out_dir, "documents")
    if docs.num_rows:
        rows["documents"] = docs.num_rows
    for name, schema in _EMPTY.items():
        _write(schema.empty_table(), out_dir, name)
    return rows


def inputs_digest(out_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(name.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]
