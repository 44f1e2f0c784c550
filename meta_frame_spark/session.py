"""SparkSession factory (reference: one-off builders at optimus.py:35,
megatron.py:62, sparks/optimus.py:5 — here a single config-driven factory).

Defaults are chosen for scale: AQE on (runtime re-planning, skew-join
splitting, broadcast conversion), Arrow for any pandas interchange, and a
shuffle-partition count that callers size to the cluster. On a real
cluster, pass ``master=None`` so spark-submit's conf wins.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "meta_frame_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-oriented defaults.

    In local testing, ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``.
    On a cluster, pass ``master=None`` with ``SPARK_GRAFT_LOCAL=0`` and let
    spark-submit decide.

    ``spark.sql.icu.caseMappings.enabled`` is pinned to ``false`` (case
    mapping through the JVM's ``String`` methods, which skips ICU's
    per-JVM title-case table build) unless the driver JVM's default
    locale language is ``tr``, ``az`` or ``lt``, whose casing rules
    differ from ICU's root mapping. A value in ``extra_conf`` wins. The
    guard reads the driver's locale: executors started under one of
    those locales need the conf set explicitly.

    On a single-JVM master the driver heap (``spark.driver.memory``) and
    the JIT compiler threads (``spark.driver.defaultJavaOptions``, see
    ``LOCAL_JIT_OPTIONS``) are sized for the JVM that runs every task.
    Both take effect only when the JVM is launched, and a value in
    ``extra_conf`` wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and os.environ.get("SPARK_GRAFT_LOCAL", "1") == "1":
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    conf = {
        # Runtime re-planning: coalesce post-shuffle partitions, convert
        # sort-merge joins to broadcast when a side turns out small, split
        # skewed partitions. All essential at 100 TB.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Pin event-time arithmetic (unix_timestamp, date_trunc on
        # NTZ-loaded data) to UTC so results are byte-identical on any
        # host timezone — and match the DuckDB oracle's naive-UTC math.
        "spark.sql.session.timeZone": "UTC",
        # Arrow for any pandas UDF / toPandas edge — batch columnar transfer.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Silence the UI in test/bench runs.
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    if master and _LOCAL_MASTER.fullmatch(master):
        # local[N] runs every task inside the DRIVER JVM, whose default
        # heap is 1g — 32 concurrent hash-aggregate tasks OOMed there
        # on the 10x scale smoke while the box sat at 9/125 GiB. Size
        # the one local JVM like the worker it actually is. 16g
        # measured best on this suite (48g regressed the heavy ANN/
        # cluster queries ~2x — G1 behaves worse on a huge mostly-empty
        # heap; 2g was GC-bound). Only effective at JVM launch
        # (getOrCreate on a live session keeps the old heap); never
        # set on a cluster, where spark-submit owns driver sizing.
        conf["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "16g"
        )
        # Spark puts spark.driver.extraJavaOptions after these, so a
        # caller's own JVM options still apply
        conf["spark.driver.defaultJavaOptions"] = LOCAL_JIT_OPTIONS
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if ICU_CASE_MAPPINGS not in conf:
        # ICU's first lower/upper in a JVM builds a title-case table over
        # all 1,114,112 code points while the other task threads wait on
        # the class-init lock, whatever the input, and every tokenizer
        # here starts with F.lower. Outside the special-casing locales
        # the JVM's String mapping gives the same results, except on
        # case pairs newer than its Unicode tables (tests/test_text.py).
        lang = spark.sparkContext._jvm.java.util.Locale.getDefault().getLanguage()
        if lang not in _SPECIAL_CASING_LANGUAGES:
            spark.conf.set(ICU_CASE_MAPPINGS, "false")
    return spark


ICU_CASE_MAPPINGS = "spark.sql.icu.caseMappings.enabled"
# java.util.Locale languages whose String.toLowerCase/toUpperCase differ
# from the root mapping (Turkish, Azerbaijani, Lithuanian)
_SPECIAL_CASING_LANGUAGES = frozenset({"tr", "az", "lt"})
_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?")
# One C1 and one C2 compiler thread, HotSpot's tiered minimum (its own
# default is 3 on 4 vCPUs and grows with the core count). A fresh local
# JVM spends its C2 time on code that is hot only while plans are built
# and tasks serialized: a JFR jdk.Compilation breakdown of one
# config_pipelines session found 41.6 s of C2 compiles, 13.7 s of them
# JDK core, 8.4 s Janino, 4.7 s java.io.Object{Input,Output}Stream,
# 3.7 s Scala collections, 2.1 s Catalyst, 1.9 s xbean ASM, 1.8 s ANTLR
# and 0.7 s Spark's generated stage classes. With one C2 thread the
# tiered policy compiles the hottest methods first and drops stale
# requests; long loops still reach C2. Measured on 4 vCPUs, local[4],
# medians of alternating pairs of perfbench/run.py --seconds 10
# --trace 0: config_pipelines cpu_s 48.1 -> 37.6 s (10 pairs),
# corpus_operators 11.0 -> 9.8 s, stream_events 35.3 -> 28.9 s (6
# each), driver RSS flat. Over the five config_pipelines pipelines
# (tools/jvm_process_starts.py, 5 sessions a side) C2 thread CPU went
# 24.1 -> 15.0 s and executor task threads 6.7 -> 7.6 s. Steady state
# is flat: the 247 bench.py queries at sf0.1 in one long-lived session,
# min of 4 runs a side (tools/bench_ab.py), 228.2 -> 227.2 s.
# Rejected: C1 only (-XX:TieredStopAtLevel=1) halves the fresh-JVM CPU
# but loses steady state: five sf0.1 queries run twice in one session
# went 67.1 -> 88.4 s, a warm kneser_ney3 13.1 -> 19.0 s.
LOCAL_JIT_OPTIONS = "-XX:CICompilerCount=2"


def local_task_slots(spark: SparkSession) -> int | None:
    """Task slots of a single-JVM master (``local``, ``local[N]``,
    ``local[*]``, ``local[N, F]``: every task runs in the driver JVM), or
    ``None`` for any other master. ``local-cluster`` is not single-JVM:
    its executors are separate processes that can be lost."""
    m = _LOCAL_MASTER.fullmatch(spark.sparkContext.master)
    if m is None:
        return None
    if m.group(1) is None:
        return 1
    if m.group(1) == "*":
        # what Spark itself sizes local[*] by
        return spark.sparkContext._jvm.java.lang.Runtime.getRuntime().availableProcessors()
    return int(m.group(1))
