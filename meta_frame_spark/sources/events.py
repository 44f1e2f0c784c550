"""Schema-adaptive loader for the events table.

The driver regenerates ``events.parquet`` between rounds and has already
flipped the physical type of ``ts`` once: TIMESTAMP(NANOS) (which Spark's
vectorized reader only exposes via ``spark.sql.legacy.parquet.nanosAsLong``
as a raw long) → ``timestamp[us]`` (which Spark reads as TIMESTAMP_NTZ when
the file is not UTC-adjusted). Hard-coding either layout breaks every
events consumer when the data regenerates, so this module inspects the
loaded dtype and normalizes to one logical schema: ``ts`` as session-TZ
``TimestampType`` holding the same wall-clock values DuckDB reads.

All batch consumers (entry queries, tests, bench) and the streaming file
source share these helpers so the conversion can never drift again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TimestampType regardless of the
    physical parquet layout it was read from.

    - LongType (nanos-as-long legacy read): integer nanos → micros
      truncation, matching DuckDB's nanos→micros cast.
    - TimestampNTZType (timestamp[us] not UTC-adjusted): reinterpret the
      wall-clock value in the session time zone (UTC in tests/bench), the
      same naive semantics DuckDB applies.
    - TimestampType: already the target type; pass through.
    """
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if isinstance(dtype, T.TimestampType):
        return df
    raise TypeError(
        f"events column {col!r} has unsupported type {dtype.simpleString()}; "
        "expected long (nanos), timestamp_ntz, or timestamp"
    )


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch-load an events parquet file/dir and normalize ``ts``.

    Sets the nanos-as-long legacy conf *before* the read so a future
    regeneration back to TIMESTAMP(NANOS) still loads (the conf is a
    no-op for micros files).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_ts(spark.read.parquet(path))


def _first_data_file(path: str) -> str | None:
    """The first data file under ``path`` in sorted order, skipping the
    ``_``/``.``-prefixed names Spark's file index ignores (``_SUCCESS``,
    ``.crc``); ``path`` itself when it is a file."""
    if os.path.isfile(path):
        return path
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    return None


def _footer_ts_type(spark: SparkSession, path: str) -> T.DataType | None:
    """Spark's read type for ``ts`` from one parquet footer, under
    ``spark.sql.legacy.parquet.nanosAsLong``, or ``None`` for a layout
    not mapped here."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    t = pf.schema_arrow.field("ts").type
    if pa.types.is_int64(t):
        return T.LongType()
    if not pa.types.is_timestamp(t):
        return None
    physical = {c.path: c.physical_type for c in pf.schema}["ts"]
    if physical != "INT64":
        return None  # INT96: Spark reads a timestamp, pyarrow says ns
    if t.unit == "ns":
        return T.LongType()
    infer_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    if t.tz is None and infer_ntz.lower() == "true":
        return T.TimestampNTZType()
    return T.TimestampType()


def event_stream_schema(spark: SparkSession, path: str) -> T.StructType:
    """Explicit schema for the streaming file source over events parquet
    (streaming requires one). The type of ``ts`` matches whatever layout
    the current files use: it is read from the first data file's
    parquet footer in this Python process and mapped as Spark maps it —
    a timestamp not adjusted to UTC to timestamp_ntz, a UTC-adjusted one
    to timestamp, a nanosecond timestamp to long (``nanosAsLong``, which
    ``read_event_stream`` sets), int64 to long — with no Spark job. Any
    other layout falls back to Spark's own schema inference, and an
    empty or missing directory to timestamp_ntz (the current layout).
    """
    first = _first_data_file(path)
    if first is None:
        ts_type: T.DataType = T.TimestampNTZType()
    else:
        ts_type = _footer_ts_type(spark, first) or spark.read.parquet(path).schema["ts"].dataType
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
