"""Source registry (S1-S5, S8 — SURVEY.md §2.1).

The reference dispatches on a ``data_source`` string and hardcodes CSV
reads with inferred schemas (``load_data``, soundwave.py:4-29;
``spark.read.csv(path, header=True, inferSchema=True)``, optimus.py:38;
schema-less child loads arriving all-string, sparks/optimus.py:44).

Here: one registry, explicit-schema support (fixes the all-string child
bug), parquet-first (columnar scans get predicate pushdown + column
pruning + partition pruning for free), and loud errors on unknown
sources (the reference raised ValueError too — kept, S8).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class UnknownSourceError(ValueError):
    pass


def _read_csv(spark: SparkSession, path: str, schema=None, header: bool = True,
              infer: bool = True, **options) -> DataFrame:
    reader = spark.read.options(header=str(header).lower(), **options)
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", str(infer).lower()).csv(path)


def _read_format(fmt: str) -> Callable[..., DataFrame]:
    """Reader for a path-based format whose only setting is an
    optional schema (``spark.read.format(fmt)``)."""

    def read(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
        reader = spark.read.format(fmt).options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(path)

    return read


def _read_text(spark: SparkSession, path: str, schema=None,
               wholetext: bool = False, **options) -> DataFrame:
    """Raw text ingestion (one row per line, or per file with
    ``wholetext=True``) — the entry format for unprocessed LLM corpus
    shards. Schema is fixed by Spark (``value string``); ``schema=`` is
    rejected loudly rather than silently ignored."""
    if schema is not None:
        raise ValueError("source='text' has a fixed schema (value string)")
    return spark.read.options(**options).text(path, wholetext=wholetext)


def _read_binary(spark: SparkSession, path: str, schema=None,
                 path_glob: str | None = None, **options) -> DataFrame:
    """Opaque-asset ingestion via Spark's binaryFile source (path,
    modificationTime, length, content) — the scan side of the
    multimodal column pipeline (multimodal/assets.py decodes/derives
    from the ``content`` bytes). ``path_glob`` maps to pathGlobFilter
    for extension pruning at the listing, before any byte is read."""
    if schema is not None:
        raise ValueError("source='binary' has a fixed schema (binaryFile)")
    reader = spark.read.format("binaryFile").options(**options)
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    return reader.load(path)


#: path-based source name -> reader ``(spark, path, schema=None, **options)``
_READERS: dict[str, Callable[..., DataFrame]] = {
    "csv": _read_csv,
    "parquet": _read_format("parquet"),
    "json": _read_format("json"),
    "orc": _read_format("orc"),
    "text": _read_text,
    "binary": _read_binary,
}


def load_data(
    spark: SparkSession,
    source: str = "auto",
    path: str | None = None,
    table: str | None = None,
    sql_query: str | None = None,
    schema: StructType | str | None = None,
    **options,
) -> DataFrame:
    """Unified load dispatcher (S8, soundwave.py:4-29).

    Sources: ``csv`` ``parquet`` ``json`` ``orc`` ``text`` ``binary``
    (path-based), ``table`` (catalog, S4
    ``spark.sql(f"SELECT * FROM {name}")`` megatron.py:63-65), ``sql``
    (arbitrary query, soundwave.py:27), ``auto`` (by extension).
    The reference's ``pandas`` source (S3) maps to the same Spark read —
    engine unified per SURVEY.md §1.3.
    """
    source = (source or "auto").lower()
    if source in ("table", "catalog", "databricks"):
        if not table and not path:
            raise ValueError("source='table' requires table=")
        return spark.table(table or path)
    if source == "sql":
        if not sql_query:
            raise ValueError("source='sql' requires sql_query=")
        return spark.sql(sql_query)
    if source in ("pandas", "spark"):  # reference dialect names
        if sql_query:
            return spark.sql(sql_query)
        source = "auto"
    if not path:
        raise ValueError(f"source={source!r} requires path=")
    if source == "auto":
        lowered = path.lower().rstrip("/")
        if lowered.endswith(".csv"):
            source = "csv"
        elif lowered.endswith(".json") or lowered.endswith(".jsonl"):
            source = "json"
        elif lowered.endswith(".orc"):
            source = "orc"
        elif lowered.endswith(".txt"):
            source = "text"
        else:
            source = "parquet"
    reader = _READERS.get(source)
    if reader is None:
        raise UnknownSourceError(
            f"Unsupported source: {source!r} (allowed: {sorted(_READERS) + ['table', 'sql', 'auto']})"
        )
    return reader(spark, path, schema=schema, **options)


def load_sf_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table, e.g. ``load_sf_table(spark, sf, 'lineitem')``."""
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def load_union(
    spark: SparkSession,
    paths: list[str],
    source: str = "auto",
    allow_missing_columns: bool = True,
    **options,
) -> DataFrame:
    """Load several datasets written under EVOLVING schemas into one
    frame: each path loads via :func:`load_data`, then folds with
    ``unionByName`` — columns are matched by NAME (positional union
    silently mis-aligns after a column reorder), and columns absent
    from an older shard arrive as nulls when ``allow_missing_columns``.
    The batch-append reality of a long-lived corpus: shard N+1 gained
    a ``lang`` column and shard 3 predates ``source`` — one call reads
    them all. Loud ``ValueError`` on an empty path list."""
    if not paths:
        raise ValueError("load_union needs at least one path")
    frames = [
        load_data(spark, source=source, path=p, **options) for p in paths
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=allow_missing_columns)
    return out
