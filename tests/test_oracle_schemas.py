"""Oracle Arrow-schema type-stability audit (VERDICT r11 #2).

The driver compares Spark results against the DuckDB oracles through a
value hash; a DuckDB expression that silently widens to HUGEINT or
DECIMAL (windowed SUM over INTEGER, un-cast numeric VALUES literals)
surfaces as ``decimal128`` on the Arrow fetch path while the Spark twin
emits int64/float64 — values equal, hash different.  That class cost
``mm_scene_cuts`` its r11 driver row.  This test executes EVERY
``oracle_sql()`` entry at sf0.001 via ``.arrow()`` and asserts no
decimal output column anywhere in the registry, so the class cannot
recur: any new oracle leaking an uncast HUGEINT/decimal fails the suite
before it ever reaches a driver window.

Pure DuckDB — no SparkSession — so the sweep over 200+ oracles stays
cheap (~seconds at sf0.001).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _decimal_leaks(field: pa.Field, path: str = "") -> list[str]:
    """Walk a (possibly nested) Arrow field; return paths of decimal types."""
    name = f"{path}.{field.name}" if path else field.name
    t = field.type
    hits = []
    if pa.types.is_decimal(t):
        hits.append(f"{name}: {t}")
    for child in getattr(t, "fields", lambda: [])() if callable(
        getattr(t, "fields", None)
    ) else []:
        hits.extend(_decimal_leaks(child, name))
    # list / large_list / struct / map nesting
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        hits.extend(_decimal_leaks(t.value_field, name))
    elif pa.types.is_struct(t):
        for i in range(t.num_fields):
            hits.extend(_decimal_leaks(t.field(i), name))
    elif pa.types.is_map(t):
        hits.extend(_decimal_leaks(t.key_field, name))
        hits.extend(_decimal_leaks(t.item_field, name))
    return hits


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield c
    c.close()


def test_no_decimal_outputs_in_any_oracle(con):
    import __spark_entry__ as e

    leaks: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    oracles = e.oracle_sql()
    assert len(oracles) >= 200
    for name, sql in oracles.items():
        try:
            tbl = con.execute(sql).arrow()
        except Exception as exc:  # an oracle that can't run is its own bug
            errors[name] = f"{type(exc).__name__}: {exc}"
            continue
        hits = []
        for field in tbl.schema:
            hits.extend(_decimal_leaks(field))
        if hits:
            leaks[name] = hits
    assert not errors, f"oracles failed to execute: {errors}"
    assert not leaks, (
        "oracle output leaks decimal types (cast to BIGINT/DOUBLE in the "
        f"SQL — the mm_scene_cuts r11 failure class): {leaks}"
    )
