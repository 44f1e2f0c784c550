"""Seeded input tables for the benchmark.

``data/sf0.01/`` holds a byte-for-byte copy of the repository's sf0.01
fixture tables (FIXTURES.md, TESTDATA.md), the inputs that
``tools/check_correctness.py`` checks every pipeline against by default.
They are kept inside the benchmark's directory because a run reads
nothing outside its checkout. ``--seed`` only permutes the rows of every
table. A permutation changes row order, file layout and task assignment
but not the multiset of rows, so every seed does the same work and every
DuckDB oracle computed on the source tables applies to every seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq

SOURCE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def fingerprint() -> str:
    """Content hash of the source tables; keys the oracle cache."""
    h = hashlib.sha256()
    for name in TABLES:
        h.update(name.encode())
        with open(os.path.join(SOURCE_DIR, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def write_tables(out_dir: str, seed: int) -> None:
    """Write every source table as ``<out_dir>/<name>.parquet`` (one file,
    one row group, like the source) with its rows permuted by ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(TABLES):
        tb = papq.read_table(os.path.join(SOURCE_DIR, f"{name}.parquet"))
        perm = np.random.default_rng([seed, i]).permutation(tb.num_rows)
        papq.write_table(tb.take(pa.array(perm)), os.path.join(out_dir, f"{name}.parquet"))
