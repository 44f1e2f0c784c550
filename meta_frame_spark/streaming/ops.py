"""Streaming/batch-unified event operators.

Scale design:

* **Watermarks bound state.** Every streaming aggregation takes a
  watermark so window state is dropped once event time passes; without
  it a 100 TB/day stream grows state without bound.
* **Same code, both modes.** Transformations accept any DataFrame —
  batch (driver oracle checks correctness) or streaming (tests drive
  an availableNow trigger). Batch-vs-stream equivalence is itself a
  test (tests/test_streaming.py).
* **Stateful custom ops are Arrow-batched.** ``user_running_totals``
  uses ``applyInPandasWithState`` — grouped state with explicit state
  schema and timeout config, the Spark-4 shape for "operator Spark
  lacks" stateful logic.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from meta_frame_spark.session import local_task_slots

if TYPE_CHECKING:  # pragma: no cover - typing only
    import pandas as pd

def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over events parquet: explicit schema (a
    streaming requirement) probed from the on-disk physical layout, then
    normalized to the one logical column layout shared with the batch
    loader (sources/events.py) — robust to the driver regenerating the
    data with a different ``ts`` physical type."""
    from meta_frame_spark.sources.events import event_stream_schema, normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(event_stream_schema(spark, path))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.parquet(path))


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour event-time window per event_type."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value")
    )


def sliding_event_value(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding window (2h window, 1h slide) mean value per type — each
    event lands in exactly two windows."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.round(F.sum("value"), 2).alias("sum_value"),
             F.count("event_id").alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "sum_value", "n_events")
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows: a session extends while consecutive
    events are < ``gap`` apart (built-in ``session_window``; state per
    open session only, closed by the watermark when streaming)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("event_id").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events", "sum_value"
        )
    )


# --------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState)
# --------------------------------------------------------------------------

_RUNNING_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, max_value double"
)
_RUNNING_STATE_SCHEMA = "n bigint, total double, mx double"


def _running_totals_fn(
    key, pdfs: Iterator["pd.DataFrame"], state: GroupState
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total], "max_value": [mx]}
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Running per-user totals as an explicit stateful operator: state
    (count, sum, max) lives per user key and is updated every
    micro-batch; each batch emits the refreshed totals for users seen
    in it. State is hash-partitioned by user_id across executors — at
    1000 executors each holds 1/1000th of the keys."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=_RUNNING_OUT_SCHEMA,
        stateStructType=_RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    time_col: str = "ts",
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Pair each left row with every right row of the same key whose
    time falls in ``[left.time - lookback, left.time]``.

    Streaming: a stream-stream join — both sides watermarked, and the
    range condition bounds how long right-side state is retained
    (Spark derives the state watermark from it); without the time bound
    a stream-stream join would buffer forever. ``how="left_outer"``
    additionally emits each unmatched left row (nulls on the right)
    once the watermark passes its match window — i.e. when no future
    right row could still pair with it; rows whose window is still open
    when an availableNow run drains stay buffered in state rather than
    emitting a premature null match. Batch: the same expression runs as
    an ordinary (outer) range join. Right columns come back
    ``{right_prefix}``-prefixed; join keys are not duplicated.
    """
    if how not in ("inner", "left_outer", "leftOuter"):
        raise ValueError(f"interval_join supports inner/left_outer, got {how!r}")
    if left.isStreaming:
        left = left.withWatermark(time_col, watermark)
    if right.isStreaming:
        right = right.withWatermark(time_col, watermark)

    r = right.select(
        *by, F.col(time_col),
        *[
            F.col(c).alias(f"{right_prefix}{c}")
            for c in right.columns
            if c not in set(by) | {time_col}
        ],
    ).withColumnRenamed(time_col, f"{right_prefix}{time_col}")

    rt = F.col(f"{right_prefix}{time_col}")
    lt = F.col(time_col)
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in by] + [
        rt >= lt - F.expr(f"INTERVAL {lookback}"),
        rt <= lt,
    ]
    out = left.alias("l").join(r.alias("r"), cond, how)
    # drop the right-side copies of the join keys
    return out.select("l.*", *[c for c in r.columns if c not in by])


def dedup_events(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once-per-key event dedup.

    Streaming: ``dropDuplicatesWithinWatermark`` — state holds one
    entry per key only until the watermark passes its event time, so
    at-least-once sources (Kafka replays, retried batches) collapse to
    exactly-once downstream with BOUNDED state. Batch: plain
    ``dropDuplicates`` on the same keys — same semantics, no state.
    """
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    on: list[tuple[str, str]],
    how: str = "inner",
    dim_prefix: str = "d_",
) -> DataFrame:
    """Stream-static enrichment: join each event against a (batch)
    dimension table — users, catalogs, geo lookup.

    Streaming: stream-static joins are stateless — every micro-batch
    probes the current dim snapshot, no watermark needed, state size
    zero. The dim is explicitly broadcast: at 100 TB/day of events a
    shuffled join would re-partition the stream every batch, while the
    broadcast keeps the stream map-only end to end. Batch: the
    identical broadcast-hash join. ``on`` is ``[(event_col, dim_col),
    ...]``; dim payload columns come back ``dim_prefix``-prefixed and
    dim-side key copies are dropped.
    """
    keys = [d for _, d in on]
    d = dim.select(
        *keys,
        *[
            F.col(c).alias(f"{dim_prefix}{c}")
            for c in dim.columns
            if c not in set(keys)
        ],
    )
    cond = [events[e] == d[k] for (e, _), k in zip(on, keys)]
    return events.join(F.broadcast(d), cond, how).drop(*[d[k] for k in keys])


def run_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
) -> None:
    """Production-shaped sink: drive the stream to completion
    (availableNow) into partition-appended parquet via ``foreachBatch``.

    foreachBatch is the standard escape hatch for sinks Spark lacks
    (upserts, JDBC, multi-sink fanout): each micro-batch arrives as a
    plain DataFrame with a batch id. The write is idempotent per batch
    — output is partitioned by ``_batch_id`` and written with dynamic
    partition overwrite, so a batch replayed after a crash-between-
    write-and-checkpoint overwrites its own partition instead of
    appending duplicates. That (plus checkpointing) is what makes the
    sink exactly-once; a bare append would only be at-least-once.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Drive a streaming DataFrame to completion into an in-memory
    table with an availableNow trigger (test/CI harness — a production
    sink would be kafka/delta/parquet). Returns the result as a batch
    DataFrame.

    Every conf below is set before ``start()`` (the query binds it
    then) and restored in ``finally``, also when the query raises.

    **State partitions** (``spark.sql.shuffle.partitions``): every
    stateful operator keeps one state store per shuffle partition, per
    stateful subtree (a stream-stream join keeps four per partition),
    and every store costs a directory, a delta file, a checksum file,
    two CRCs and a commit per batch. ``state_partitions`` overrides the
    session default for this run; on a ``local[N]`` master the value
    used — ``state_partitions``, or the session default when it is
    ``None`` — is clamped to N, because in one JVM partitions beyond
    the task slots add only stores and a second task wave, never
    parallelism (``stream_join`` at local[4]: 32 stores -> 16, and its
    ``chmod`` forks 200 -> 116). Other masters take the value as given.
    There, SIZE IT TO THE STATE, not to a constant: state partitions
    are the unit of both parallelism and state-store memory, so scale
    them with the distinct state rows the query retains (group/key
    cardinality) up to ~2-3x total cores — a 20-group complete-mode
    rollup holds 20 state rows at ANY corpus size, while a per-user
    keyed operator wants the full core multiple.

    **Checkpoint manager.** With no session-wide
    ``spark.sql.streaming.checkpointLocation`` the memory sink
    checkpoints into a temporary local directory that Spark deletes
    and nothing recovers from. That run uses
    ``FileSystemBasedCheckpointFileManager``, which renames with
    ``FileSystem.rename`` (POSIX ``rename(2)`` on ``file:``). Spark's
    default FileContext manager looks up link status on every rename,
    and without Hadoop's native library that forks ``readlink`` four
    times per rename. Running the four ``stream_events`` benchmark
    pipelines, the JVM started 1,360 child processes, 1,008 of them
    ``readlink``; with this manager and the clamp above it starts 227-229
    and no ``readlink`` (``tools/jvm_process_starts.py`` counts them).
    ``.crc`` and state checksum files are still written. A durable
    checkpoint — a session-wide checkpointLocation, or
    ``run_to_parquet``'s — keeps Spark's default manager. 221 of the
    remaining forks are ``chmod`` from Hadoop's ``setPermission`` on
    every file create; only native IO removes them.

    ``no_data_batches=False`` additionally disables the trailing
    NO-DATA micro-batch (``spark.sql.streaming.noDataMicroBatches``).
    After the last data batch advances the watermark, that extra empty
    batch exists ONLY to let event-time-final operators emit rows that
    become complete when the watermark passes (left-outer interval-join
    nulls, append-mode aggregation finals) and to evict expired state.
    For shapes that emit everything in the batch that carries the data
    — INNER stream-stream joins, ``dropDuplicatesWithinWatermark``
    (first occurrence emits immediately), complete-mode aggregations —
    the no-data batch re-runs the whole stateful pipeline (state store
    load + commit per partition) to produce zero rows; skipping it is
    output-identical (the drained-stream == batch oracle pins this)
    and saves a full micro-batch of harness cost per run. Leave it ON
    for any left-outer join or append-mode windowed aggregation."""
    spark = stream_df.sparkSession
    confs: dict[str, str] = {}
    partitions = state_partitions
    slots = local_task_slots(spark)
    if slots is not None:
        if partitions is None:
            partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        partitions = min(partitions, slots)
    if partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(partitions)
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    if spark.conf.get("spark.sql.streaming.checkpointLocation", None) is None:
        confs["spark.sql.streaming.checkpointFileManagerClass"] = _FS_CHECKPOINT_MANAGER
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return spark.table(name)
