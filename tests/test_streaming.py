"""Structured Streaming ops: stream==batch equivalence, watermark
presence, session windows, custom stateful operator."""

import datetime

import pytest
from pyspark.sql import functions as F

from meta_frame_spark.streaming import (
    hourly_event_counts,
    read_event_stream,
    run_to_memory,
    session_aggregate,
    user_running_totals,
)


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    from meta_frame_spark.sources.events import load_events

    return load_events(spark, f"{sf_dir}/events.parquet")


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    # the streaming file source wants a directory to monitor, not a file
    d = tmp_path_factory.mktemp("events_stream_src")
    (d / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    return read_event_stream(spark, str(d))


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_matches_batch_hourly(spark, events_batch, events_stream):
    got = run_to_memory(hourly_event_counts(events_stream), "t_hourly")
    want = hourly_event_counts(events_batch)
    cols = ["hour", "event_type", "n_events", "sum_value"]
    assert _rows(got, *cols) == _rows(want, *cols)


def test_watermark_in_streaming_plan(events_stream):
    df = hourly_event_counts(events_stream, watermark="45 minutes")
    assert "45 minutes" in df._jdf.queryExecution().analyzed().toString()


def test_session_windows_batch_semantics(spark):
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def at(minutes):
        return base + datetime.timedelta(minutes=minutes)

    rows = [
        # user 1: two sessions (gap at 40 min > 30 min gap)
        (1, at(0), 1.0, "e1"), (1, at(10), 2.0, "e2"), (1, at(50), 4.0, "e3"),
        # user 2: one session
        (2, at(5), 8.0, "e4"), (2, at(25), 16.0, "e5"),
    ]
    df = spark.createDataFrame(
        [(u, t, v, e) for (u, t, v, e) in rows],
        "user_id bigint, ts timestamp, value double, event_id string",
    )
    got = _rows(
        session_aggregate(df, gap="30 minutes"),
        "user_id", "session_start", "n_events", "sum_value",
    )
    assert got == [
        (1, at(0), 2, 3.0),
        (1, at(50), 1, 4.0),
        (2, at(5), 2, 24.0),
    ]


def test_stateful_running_totals_stream(spark, events_batch, events_stream):
    got = run_to_memory(
        user_running_totals(events_stream), "t_totals", output_mode="update"
    )
    want = events_batch.groupBy("user_id").agg(
        F.count("event_id").alias("n_events"),
        F.sum("value").alias("total_value"),
        F.max("value").alias("max_value"),
    )
    # single availableNow pass => final update per user equals batch agg
    g = {r.user_id: (r.n_events, round(r.total_value, 6), r.max_value) for r in got.collect()}
    w = {r.user_id: (r.n_events, round(r.total_value, 6), r.max_value) for r in want.collect()}
    assert g == w


def test_stream_dedup_collapses_replayed_file(spark, sf_dir, tmp_path):
    """A replayed source file (same events twice) collapses to one row
    per event_id via dropDuplicatesWithinWatermark."""
    from meta_frame_spark.streaming import dedup_events

    d = tmp_path / "dup_src"
    d.mkdir()
    (d / "a.parquet").symlink_to(f"{sf_dir}/events.parquet")
    (d / "b.parquet").symlink_to(f"{sf_dir}/events.parquet")
    stream = read_event_stream(spark, str(d))
    got = run_to_memory(
        dedup_events(stream).groupBy().agg(F.count("event_id").alias("n")),
        "t_dedup_n",
    )
    n_distinct = (
        spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id").distinct().count()
    )
    assert got.first().n == n_distinct


def test_batch_dedup_same_code_path(spark, events_batch):
    from meta_frame_spark.streaming import dedup_events

    assert dedup_events(events_batch).count() == events_batch.select("event_id").distinct().count()


def test_interval_join_stream_matches_batch(spark, events_batch, events_stream, sf_dir, tmp_path):
    """Stream-stream interval join (purchases x views within 1h
    lookback per user) equals the batch range join."""
    from meta_frame_spark.streaming import interval_join

    def split(src):
        p = src.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        v = src.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
        return p, v

    # batch reference
    bp, bv = split(events_batch)
    want = interval_join(bp, bv, by=["user_id"], lookback="1 hour")
    want_rows = sorted(
        (r.event_id, r.r_ts, round(r.r_value, 6)) for r in want.collect()
    )

    # the same code on two streams
    d = tmp_path / "ij_src"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    sp, sv = split(read_event_stream(spark, str(d)))
    got = run_to_memory(
        interval_join(sp, sv, by=["user_id"], lookback="1 hour"),
        "t_ij", output_mode="append",
    )
    got_rows = sorted(
        (r.event_id, r.r_ts, round(r.r_value, 6)) for r in got.collect()
    )
    assert got_rows == want_rows


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch sink: stream -> parquet with batch-id stamping and
    checkpointed exactly-once; rerunning from the same checkpoint
    writes nothing new."""
    from meta_frame_spark.streaming import run_to_parquet

    d = tmp_path / "fb_src"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    out = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")

    counts = hourly_event_counts(read_event_stream(spark, str(d)), watermark="0 seconds")
    run_to_parquet(counts, out, ckpt)
    first = spark.read.parquet(out).count()
    assert first > 0
    assert "_batch_id" in spark.read.parquet(out).columns

    # replaying with the same checkpoint is a no-op (no new batches)
    run_to_parquet(counts, out, ckpt)
    assert spark.read.parquet(out).count() == first


def test_stream_static_enrich_matches_batch(spark, events_batch, events_stream, sf_dir):
    """Stream-static join: stateless (no watermark), dim broadcast,
    stream result row-identical to the batch join."""
    from meta_frame_spark.streaming import enrich_with_dim

    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    on = [("user_id", "c_custkey")]
    got = run_to_memory(
        enrich_with_dim(events_stream, dim, on), "t_enrich", output_mode="append"
    )
    want = enrich_with_dim(events_batch, dim, on)
    assert "d_c_nationkey" in want.columns and "c_custkey" not in want.columns
    cols = ["event_id", "d_c_nationkey", "d_c_mktsegment"]
    assert _rows(got, *cols) == _rows(want, *cols)
    # the batch twin must plan as a broadcast join (no stream shuffle)
    plan = want._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_watermark_drops_too_late_keeps_within_watermark(spark, tmp_path):
    """Late-data semantics at the watermark boundary (the behavior a
    100-TB event pipeline lives and dies by): with a 1-hour watermark,
    a late row whose window is still open (window end > watermark) is
    aggregated, while a row whose window end has passed the watermark
    is dropped and its window never resurfaces.

    Three files + maxFilesPerTrigger=1 force three micro-batches. The
    watermark advances on batch-1's max event time (13:50 → 12:50) but
    only takes filtering effect one batch after commit (empirically:
    batch N filters with the watermark computed from batch N-2's data),
    so the late probes ride in batch 3."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def us(h, m):
        # 2024-01-01 HH:MM UTC in epoch micros
        return (1704067200 + h * 3600 + m * 60) * 1_000_000

    def write(path, rows):
        ids, tss = [r[0] for r in rows], [r[1] for r in rows]
        pq.write_table(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(tss, pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["a"] * len(rows)),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }), path)

    d = tmp_path / "late_src"
    d.mkdir()
    f1, f2, f3 = (str(d / f"b{i}.parquet") for i in (1, 2, 3))
    # batch 1: on-time rows at 12:05 and 13:50 -> watermark 12:50
    write(f1, [(1, us(12, 5)), (2, us(13, 50))])
    # batch 2: filler at 13:00 (keeps wm at 12:50, lets it take effect)
    write(f2, [(3, us(13, 0))])
    # batch 3 (filtered at wm 12:50): late 12:20 is KEPT — its window
    # [12:00,13:00) end 13:00 > wm; too-late 11:40 is DROPPED — its
    # window [11:00,12:00) end 12:00 <= wm
    write(f3, [(4, us(12, 20)), (5, us(11, 40))])
    for i, f in enumerate((f1, f2, f3)):
        os.utime(f, (1_700_000_000 + 100 * i,) * 2)

    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    got = run_to_memory(
        hourly_event_counts(stream, watermark="1 hour"),
        "t_late", output_mode="update",
    )
    rows = got.select("hour", "n_events").collect()
    by_hour = {}
    for r in rows:
        by_hour.setdefault(r.hour.hour, []).append(r.n_events)
    # too-late row dropped: its window never emitted any update
    assert 11 not in by_hour
    # late-but-open window updated 1 -> 2 by the batch-3 late row
    assert sorted(by_hour[12]) == [1, 2]
    assert sorted(by_hour[13]) == [1, 2]


def test_interval_left_outer_stream_emits_unmatched_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: a left row with no right
    match emits (with nulls) only after the watermark passes its match
    window — never prematurely. Matched rows emit normally."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from meta_frame_spark.streaming import interval_join

    def us(h, m):
        return (1704067200 + h * 3600 + m * 60) * 1_000_000

    def write(path, rows):
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }), path)

    d = tmp_path / "oj_src"
    d.mkdir()
    f1, f2 = str(d / "b1.parquet"), str(d / "b2.parquet")
    # batch 1: user 1 purchase at 12:00 with a matching view at 11:30
    # (inside the 1h lookback); user 2 purchase at 12:00 with NO view
    write(f1, [
        (1, us(12, 0), 1, "purchase"), (2, us(11, 30), 1, "view"),
        (3, us(12, 0), 2, "purchase"),
    ])
    # batches 2-3: advance event time far enough that the watermark
    # passes the batch-1 match windows and takes effect (the committed
    # watermark lags one batch — see the late-data test), flushing the
    # unmatched left row
    # filler batches must carry rows in BOTH branches: the global
    # watermark is the MIN across the two withWatermark operators, and
    # a branch that sees no rows never advances its side. Each filler
    # pairs a purchase with a same-instant view so it self-matches and
    # adds no extra unmatched rows.
    extra = []
    for i, h in enumerate((18, 19, 20, 21)):
        f = str(d / f"b{i + 2}.parquet")
        write(f, [(10 + 2 * i, us(h, 0), 3, "purchase"),
                  (11 + 2 * i, us(h, 0), 3, "view")])
        extra.append(f)
    os.utime(f1, (1_700_000_000,) * 2)
    for i, f in enumerate(extra):
        os.utime(f, (1_700_000_100 + 100 * i,) * 2)

    stream = read_event_stream(spark, str(d), max_files_per_trigger=1)
    p = stream.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = stream.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    got = run_to_memory(
        interval_join(p, v, by=["user_id"], lookback="1 hour",
                      watermark="1 hour", how="left_outer"),
        "t_oj", output_mode="append",
    )
    rows = {r.event_id: r.r_ts for r in got.collect()}
    assert 1 in rows and rows[1] is not None      # matched purchase
    assert 3 in rows and rows[3] is None          # unmatched -> null right


_HARNESS_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.checkpointFileManagerClass",
)


def _event_stream_dir(tmp_path, sf_dir):
    d = tmp_path / "ev"
    d.mkdir()
    (d / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    return str(d)


def test_run_to_memory_rerun_same_name_and_conf_restore(spark, sf_dir, tmp_path):
    """Registry queries reuse memory-sink names across runs in one
    session (bench + correctness both call them); a second availableNow
    run under the same queryName must work, and every conf the harness
    scopes to the run (state partitions, no-data batches, checkpoint
    manager) must be restored afterwards, also when the query raises."""
    from meta_frame_spark.streaming.ops import dedup_events

    d = _event_stream_dir(tmp_path, sf_dir)
    before = {k: spark.conf.get(k, None) for k in _HARNESS_CONFS}
    for _ in range(2):
        stream = read_event_stream(spark, d)
        out = run_to_memory(
            dedup_events(stream, keys=["user_id", "event_type"]),
            "mem_rerun_test", output_mode="append", state_partitions=4,
            no_data_batches=False,
        )
        n = out.count()
        assert n > 0
        assert {k: spark.conf.get(k, None) for k in _HARNESS_CONFS} == before

    failing = read_event_stream(spark, d).select(
        F.when(F.col("event_id") >= 0, F.raise_error(F.lit("boom"))).alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        run_to_memory(failing, "mem_raise_test", output_mode="append",
                      state_partitions=2, no_data_batches=False)
    assert {k: spark.conf.get(k, None) for k in _HARNESS_CONFS} == before


def test_run_to_memory_durable_checkpoint_keeps_default_manager(spark, sf_dir, tmp_path, monkeypatch):
    """Only the throwaway checkpoint gets the rename-only file manager:
    with a session-wide checkpointLocation the checkpoint is durable,
    and the harness must leave the manager conf alone."""
    from pyspark.sql.conf import RuntimeConfig

    manager = "spark.sql.streaming.checkpointFileManagerClass"
    d = _event_stream_dir(tmp_path, sf_dir)
    conf_set = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        conf_set.append(key)
        real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)

    run_to_memory(read_event_stream(spark, d), "mem_tmp_ckpt", output_mode="append")
    assert manager in conf_set  # the temporary checkpoint does switch it

    ckpt = tmp_path / "ckpt"
    spark.conf.set("spark.sql.streaming.checkpointLocation", str(ckpt))
    conf_set.clear()
    try:
        out = run_to_memory(read_event_stream(spark, d), "mem_durable_ckpt",
                            output_mode="append")
        assert out.count() > 0
    finally:
        spark.conf.unset("spark.sql.streaming.checkpointLocation")
    assert manager not in conf_set
    assert (ckpt / "mem_durable_ckpt" / "offsets").is_dir()


def test_run_to_memory_clamps_state_partitions_to_local_slots(spark, sf_dir, tmp_path):
    """On a local[N] master the state partitions are clamped to N: a
    state_partitions=8 run must report at most defaultParallelism
    shuffle partitions for its stateful operator."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from meta_frame_spark.streaming.ops import dedup_events

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.partitions, self.done = [], False

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.name == "mem_clamp_test":
                self.partitions += [s.numShufflePartitions for s in event.progress.stateOperators]

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done = True

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        run_to_memory(
            dedup_events(read_event_stream(spark, _event_stream_dir(tmp_path, sf_dir))),
            "mem_clamp_test", output_mode="append", state_partitions=8,
        )
        deadline = time.time() + 60
        while not (listener.done and listener.partitions) and time.time() < deadline:
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    slots = spark.sparkContext.defaultParallelism
    assert listener.partitions
    assert max(listener.partitions) <= min(8, slots)


def test_streaming_incremental_ingest_dedups_against_static_corpus(spark, tmp_path):
    """Continuous corpus ingestion: a document stream anti-joined
    against the accumulated static corpus (stream-static left_anti is
    stateless — each micro-batch probes the corpus snapshot) so only
    genuinely-new texts land. The replayed half of the stream must be
    dropped, the new half kept."""
    import pyspark.sql.functions as F
    from meta_frame_spark.streaming.ops import run_to_memory

    corpus = spark.createDataFrame(
        [(i, f"known document {i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    incoming = spark.createDataFrame(
        [(100 + i, f"known document {i}") for i in range(25)]      # replays
        + [(200 + i, f"fresh document {i}") for i in range(30)],   # new
        "doc_id bigint, text string",
    )
    src = tmp_path / "incoming"
    incoming.coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(str(src))
    novel = stream.withColumn("_k", F.md5("text")).join(
        corpus.select(F.md5("text").alias("_k")), "_k", "left_anti"
    ).drop("_k")
    out = run_to_memory(novel, "mem_ingest", output_mode="append",
                        state_partitions=4)
    got = {r.doc_id for r in out.collect()}
    assert got == {200 + i for i in range(30)}


def test_stream_dir_prunes_stale_links(tmp_path, monkeypatch):
    """Regenerating a directory table writes NEW part-file names; the
    reused temp dir must drop symlinks for parts that no longer exist
    (ADVICE r10) or subsequent streaming reads fail/pollute."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from __spark_entry__ import _stream_dir

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    try:
        src = tmp_path / "sfX" / "documents.parquet"
        src.mkdir(parents=True)
        (src / "part-0001.parquet").write_bytes(b"a")
        (src / "part-0002.parquet").write_bytes(b"b")
        d1 = _stream_dir(str(tmp_path / "sfX"), "documents")
        assert sorted(os.listdir(d1)) == [
            "part-0001.parquet", "part-0002.parquet"]
        # regenerate: new part names
        (src / "part-0001.parquet").unlink()
        (src / "part-0002.parquet").unlink()
        (src / "part-abcd.parquet").write_bytes(b"c")
        d2 = _stream_dir(str(tmp_path / "sfX"), "documents")
        assert d2 == d1
        assert os.listdir(d2) == ["part-abcd.parquet"]
        assert os.path.exists(os.path.join(d2, "part-abcd.parquet"))
    finally:
        tempfile.tempdir = None


def test_stream_dir_links_a_relative_data_dir(tmp_path, monkeypatch):
    """A data directory given relative to the cwd must still be linked
    by absolute path: the link lives in the temp directory, where a
    relative target would dangle."""
    import os
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from __spark_entry__ import _stream_dir

    (tmp_path / "work" / "sfR").mkdir(parents=True)
    (tmp_path / "work" / "sfR" / "events.parquet").write_bytes(b"e")
    (tmp_path / "tmp").mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    monkeypatch.chdir(tmp_path / "work")
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        d = _stream_dir("sfR", "events")
        link = os.path.join(d, "events.parquet")
        assert os.path.islink(link)
        assert os.path.isabs(os.readlink(link))
        with open(link, "rb") as fh:
            assert fh.read() == b"e"
    finally:
        tempfile.tempdir = None
