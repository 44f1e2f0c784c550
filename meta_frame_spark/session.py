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
    the JVM's launch policy (``spark.driver.defaultJavaOptions``, see
    ``LOCAL_JVM_OPTIONS``: JIT compiler threads and tier-4 thresholds,
    and the collector) are sized for the JVM that runs every task. Both
    take effect only when the JVM is launched, and a value in
    ``extra_conf`` wins. The collector flag is left out when
    ``spark.driver.extraJavaOptions`` in ``extra_conf``,
    ``JDK_JAVA_OPTIONS`` or ``JAVA_TOOL_OPTIONS`` already selects one
    (``-XX:+Use*GC``): the JVM refuses to start with two.
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
        # measured best on this suite under G1 (48g regressed the heavy
        # ANN/cluster queries ~2x — G1 behaves worse on a huge
        # mostly-empty heap; 2g was GC-bound). Under the throughput
        # collector 48g no longer regresses them: warm sf0.1
        # ann_topk_ivfpq/pq/ivf 3.98/2.61/1.81 s at 16g, 4.10/2.73/1.66
        # s at 48g (one session each, local[4]), peak RSS 1.95 vs 2.23
        # GiB, so 16g stays. Only effective at JVM launch
        # (getOrCreate on a live session keeps the old heap); never
        # set on a cluster, where spark-submit owns driver sizing.
        conf["spark.driver.memory"] = os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "16g"
        )
        # Spark puts spark.driver.extraJavaOptions after these, so a
        # caller's own JVM options still apply; a second collector would
        # not ("Multiple garbage collectors selected")
        caller = [(extra_conf or {}).get("spark.driver.extraJavaOptions", "")]
        caller += [os.environ.get(v, "") for v in ("JDK_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")]
        conf["spark.driver.defaultJavaOptions"] = (
            LOCAL_JIT_OPTIONS if any(map(_SELECTS_GC.search, caller)) else LOCAL_JVM_OPTIONS
        )
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
# The launch policy of a single-JVM master's one JVM, which runs every
# task. A fresh local JVM compiles more than its pipelines run: plans
# are mostly driver work (Catalyst, Janino, task serialization), and a
# JFR jdk.Compilation breakdown of one config_pipelines session found
# 41.6 s of C2 compiles, 13.7 s of them JDK core, 8.4 s Janino, 4.7 s
# java.io.Object{Input,Output}Stream, 3.7 s Scala collections, 2.1 s
# Catalyst and 0.7 s Spark's generated stage classes. Three parts:
# - One C1 and one C2 compiler thread, HotSpot's tiered minimum (its
#   default is 3 on 4 vCPUs). The tiered policy then compiles the
#   hottest methods first and drops stale requests. config_pipelines
#   cpu_s 48.1 -> 37.6 s (10 pairs), C2 thread CPU 24.1 -> 15.0 s.
# - C2 promotion thresholds at _TIER4_FACTOR times JDK 17's: code hot
#   only while plans are built and tasks serialized stays in C1, and
#   row loops still pass 160k back-edges in milliseconds. Alone, it
#   moves set-up: medians of 4 rotated runs per variant (two threads
#   alone, thresholds added, collector added, both), setup_s
#   config_pipelines 17.5 -> 15.8 s, stream_events 22.2 -> 19.2 s,
#   corpus_operators 19.2 -> 16.6 s (3 runs); cpu_s 31.2 -> 30.7,
#   27.2 -> 29.8, 8.5 -> 7.9 s. The factor 4 was not swept.
# - The throughput collector. G1's barriers make compiled code larger
#   and its refinement and marking threads cost CPU; a batch engine
#   whose one JVM runs every task needs no pause target. Alone, it
#   moves the pipelines: cpu_s 31.2 -> 28.0, 27.2 -> 26.2, 8.5 -> 8.1
#   s; setup_s 17.5 -> 17.3, 22.2 -> 21.3, 19.2 -> 19.3 s.
# Both parts against two threads alone, on seeds the runs above did
# not use (perfbench/run.py --seconds 10 --trace 0, local[4],
# alternating pairs, medians): setup_s config_pipelines 21.05 -> 17.42
# s (10/10 pairs; parent quartiles 2.92 s apart), stream_events 20.67
# -> 16.88 s (6/6), corpus_operators 19.14 -> 16.71 s (6/6); cpu_s
# 34.35 -> 32.82, 25.30 -> 22.78, 8.21 -> 7.94 s; driver RSS flat.
# Over the five config_pipelines pipelines (tools/jvm_process_starts.py,
# median of 3 sessions a side) C1 + C2 thread CPU went 18.0 -> 15.4 s,
# GC threads 3.8 -> 1.6 s, executor task threads 6.5 -> 6.9 s. Steady
# state: the 247 sf0.1 queries in one long-lived session, min of 4
# runs a side (tools/bench_ab.py), 178.7 -> 173.5 s.
# Rejected: C1 only (-XX:TieredStopAtLevel=1) halves the fresh-JVM CPU
# but loses steady state: five sf0.1 queries run twice in one session
# went 67.1 -> 88.4 s, a warm kneser_ney3 13.1 -> 19.0 s.
#: JDK 17's tier-4 (C2) promotion thresholds
_TIER4_THRESHOLDS = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}
_TIER4_FACTOR = 4
LOCAL_JIT_OPTIONS = " ".join(
    ["-XX:CICompilerCount=2"]
    + [f"-XX:{k}={v * _TIER4_FACTOR}" for k, v in _TIER4_THRESHOLDS.items()]
)
LOCAL_JVM_OPTIONS = f"{LOCAL_JIT_OPTIONS} -XX:+UseParallelGC"
#: a JVM option that selects a collector (-XX:+UseG1GC, -XX:+UseZGC, ...)
_SELECTS_GC = re.compile(r"-XX:\+Use\w+GC\b")


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
