"""Correctness checks outside the timed region.

Each pipeline's written parquet is read back with pyarrow, its values
are converted to the Python values ``DataFrame.collect()`` would give
for the same schema, and the rows are hashed with the normalisation of
``tools/check_correctness.py`` (``table_hash``). The expected hash comes
from the pipeline's DuckDB ``oracle_sql()`` twin over the unpermuted
source tables (every seed's copy holds the same rows). It is cached in
one JSON file per source-table fingerprint; each entry also records the
hash of its SQL text and the DuckDB version, and is recomputed when
either changes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.metadata
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as papq
from pyspark.sql import Row

from tools.check_correctness import table_hash


def _converter(t: pa.DataType):
    """Map an Arrow value (as ``to_pylist`` gives it) to what Spark's
    ``collect()`` returns for the column type Spark wrote."""
    if pa.types.is_timestamp(t):
        # Spark writes TimestampType as UTC instants and collects them
        # as naive datetimes (the session and the process run in UTC).
        if t.tz is not None:
            return lambda v: None if v is None else v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return None
    if pa.types.is_map(t):
        kf, vf = _converter(t.key_type), _converter(t.item_type)
        return lambda v: None if v is None else {
            (kf(k) if kf else k): (vf(x) if vf else x) for k, x in v
        }
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        ef = _converter(t.value_type)
        if ef is None:
            return None
        return lambda v: None if v is None else [ef(x) for x in v]
    if pa.types.is_struct(t):
        fields = [(t.field(i).name, _converter(t.field(i).type)) for i in range(t.num_fields)]
        return lambda v: None if v is None else Row(**{
            n: (f(v[n]) if f else v[n]) for n, f in fields
        })
    return None


def read_rows(path: str) -> tuple[list[str], list[tuple]]:
    """Column names and rows of a Spark-written parquet directory."""
    tb = papq.read_table(path)
    convs = [_converter(f.type) for f in tb.schema]
    cols = []
    for arr, conv in zip(tb.columns, convs):
        vals = arr.to_pylist()
        cols.append([conv(v) for v in vals] if conv else vals)
    return list(tb.column_names), list(zip(*cols)) if cols else []


def output_hash(path: str) -> tuple[list[str], int, str]:
    """Columns, row count and value hash of one written result."""
    names, rows = read_rows(path)
    n, h = table_hash(rows, names)
    return names, n, h


def entry_key(sql: str) -> dict:
    """What an oracle entry was computed from, besides the input tables
    (those key the cache file): the SQL text and the DuckDB version."""
    return {"sql_sha": hashlib.sha256(sql.encode()).hexdigest()[:16],
            "duckdb": importlib.metadata.version("duckdb")}


def _read_cache(cache_file: str) -> dict:
    if not os.path.exists(cache_file):
        return {}
    with open(cache_file) as f:
        return json.load(f)


def _valid(cache: dict, sql: dict[str, str]) -> dict:
    return {n: cache[n] for n, q in sql.items()
            if n in cache and cache[n].get("key") == entry_key(q)}


def cached_oracle(cache_file: str, sql: dict[str, str]) -> dict:
    """The cached ``{pipeline: {"cols": [...], "rows": n, "hash": h}}``
    entries that are still valid for ``sql`` (``{pipeline: oracle SQL}``)
    and the installed DuckDB."""
    return _valid(_read_cache(cache_file), sql)


def oracle_hashes(cache_file: str, data_dir: str, sql: dict[str, str]) -> dict:
    """Oracle entries for every pipeline of ``sql``, from DuckDB over
    every ``<table>.parquet`` in ``data_dir``. Valid entries in
    ``cache_file`` are reused; missing or stale ones are computed and
    written back."""
    cache = _read_cache(cache_file)
    fresh = _valid(cache, sql)
    missing = [n for n in sql if n not in fresh]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"'{os.path.join(data_dir, f)}'")
            for name in missing:
                cur = con.execute(sql[name])
                cols = [d[0] for d in cur.description]
                n, h = table_hash(cur.fetchall(), cols)
                cache[name] = {"cols": sorted(cols), "rows": n, "hash": h,
                               "key": entry_key(sql[name])}
        finally:
            con.close()
        tmp = cache_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_file)
    return {n: cache[n] for n in sql}


def verify(path: str, expected: dict) -> str | None:
    """None when the result at ``path`` matches the oracle entry, else
    a one-line reason."""
    cols, n, h = output_hash(path)
    if sorted(cols) != expected["cols"]:
        return f"columns {sorted(cols)} != oracle {expected['cols']}"
    if (n, h) != (expected["rows"], expected["hash"]):
        return f"rows/hash {n}/{h} != oracle {expected['rows']}/{expected['hash']}"
    return None


def score(results: list[tuple[str, str, str]], oracle: dict,
          errors: dict[str, str]) -> dict[str, str]:
    """Failures among ``(key, pipeline, path)`` results: a run that
    raised (its key is in ``errors``), left no readable result, or whose
    result differs from the pipeline's oracle entry. Returns
    ``{key: reason}``."""
    failures = {}
    for key, name, path in results:
        if key in errors:
            failures[key] = "raised"
            continue
        try:
            why = verify(path, oracle[name])
        except (OSError, ValueError) as exc:  # missing or unreadable output
            why = f"unreadable result: {exc!r}"
        if why:
            failures[key] = why
    return failures


if __name__ == "__main__":
    # python3 perfbench/checks.py CACHE_FILE DATA_DIR < {pipeline: oracle SQL}
    oracle_hashes(sys.argv[1], sys.argv[2], json.load(sys.stdin))
