#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload config_pipelines --seed 1 \
        --seconds 10 --trace 0

One process, one client, a closed loop. A run writes the seeded input
tables, then starts fresh Spark sessions at ``local[<cpus>]``, one after
another, until ``--seconds`` have elapsed. Each session is one JVM: it
is started, warmed with one fixed probe query, runs every pipeline of
the workload once in a fixed order, and is stopped. Every pipeline
result is written as parquet through
``meta_frame_spark.sources.sinks.save_data`` and, after the timed
region, read back and hashed against its DuckDB oracle. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Pipelines per workload, in run order. Each is a ``queries()`` entry
#: of ``__spark_entry__`` with an ``oracle_sql()`` twin. README.md gives
#: the reason for each workload and for the pipelines left out.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # config -> spec -> lazy plan -> sink through each config driver
    # (run_pipeline, aggregate_and_join, nested_aggregate, run_curation)
    "config_pipelines": (
        "a_q1_pricing", "b_q3_shipping", "bp_grandchild", "curation_pipeline",
        "curation_select",
    ),
    # corpus operators with no config work: LSH banding plus a grouped
    # Arrow UDF for embedding near-duplicates, MinHash-LSH text dedup
    "corpus_operators": ("emb_near_dup", "dedup_minhash"),
    # availableNow drains of the events file stream: interval join,
    # watermarked hourly aggregate, watermarked dedup, anomaly flags
    "stream_events": ("stream_join", "stream_hourly", "stream_dedup", "stream_anomaly"),
}

#: The fixed query that warms each new session before its pipelines:
#: the first Spark job in a JVM pays class loading and scheduler start-up
#: whatever it runs, which is set-up, not pipeline time.
PROBE_SQL = "SELECT sum(id) AS s FROM range(1000)"


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_env(run_dir: str, cpus: int) -> None:
    """Environment for this run; must precede the numpy/pyspark imports
    and the JVM launch, which read it once."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = str(cpus)
    # far below physical RAM: the heap of the one local JVM
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    # shuffle files, stream directories and memory-sink checkpoints
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # Python UDF workers import the program from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def provenance(cpus: int, seed: int, spark_version: str) -> dict:
    """cpus, seed, Spark version, git sha (None outside a git checkout)
    and a hash of the program's sources."""
    sha = None
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "meta_frame_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return {"cpus": cpus, "git_sha": sha, "source_sha": h.hexdigest()[:16],
            "seed": seed, "spark_version": spark_version}


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Make orphaned descendants children of this process (Linux), so
    that end_children can reap them: the launcher subshell that
    ``spark-class`` leaves under the JVM, and Python workers that
    outlive it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def end_children(grace_s: float = 10.0) -> None:
    """Wait until this process has no children left: reap the dead, ask
    the live to stop (SIGTERM) and kill them after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        me = os.getpid()
        for pid in [p for p, (ppid, _) in proc_table().items() if ppid == me]:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.1)


def reset_peak_rss() -> None:
    """Restart the peak-RSS count (Linux), so that writing the inputs
    does not count as the program's memory."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    """Peak RSS of this process since the last reset, in MiB."""
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def proc_table() -> dict[int, tuple[int, int]]:
    """``{pid: (ppid, CPU ticks)}`` of every process, where the ticks are
    utime + stime + cutime + cstime."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its live
    descendants (the JVM with its JIT and GC threads, Python workers),
    including children they have already reaped."""
    procs = proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def per_layer_names() -> dict[str, str]:
    """Per-layer metric names and units, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an exception, so the session, the JVM and the
    # run directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    cpus = cpu_count()
    run_dir = os.path.join(HERE, ".runs", f"{os.getpid()}-{time.time_ns()}")
    pin_env(run_dir, cpus)
    try:
        return run(args, cpus, run_dir)
    finally:
        end_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))  # only when no other run uses it


class Bench:
    """One workload: its pipelines, inputs and result directories."""

    def __init__(self, workload: str, data_dir: str, run_dir: str, tracer):
        import __spark_entry__ as entrymod

        self.workload, self.names = workload, WORKLOADS[workload]
        self.data_dir, self.run_dir = data_dir, run_dir
        self.tracer = tracer
        self.queries = entrymod.queries()
        self.errors: dict[str, str] = {}
        #: traced sessions: pipeline root span id -> statusTracker job count
        self.status_jobs: dict[int, int] = {}

    def out_dir(self, tag: str, name: str) -> str:
        return os.path.join(self.run_dir, "out", tag, name)

    def session(self, tag: str, traced: bool) -> dict:
        """Start a fresh session (one JVM), warm it with the probe query,
        run every pipeline once, stop it; return the session's figures."""
        from meta_frame_spark.operators import pq
        from meta_frame_spark.session import get_session
        from meta_frame_spark.sources.sinks import save_data

        conf = {"spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse")}
        log_dir = os.path.join(self.run_dir, "eventlog", tag)
        if traced:
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            })
        reset_peak_rss()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        spark = get_session(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        try:
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            start_s = time.perf_counter() - t0
            spark.sql(PROBE_SQL).collect()
            probe_s = time.perf_counter() - t0 - start_s
            setup_cpu_s = tree_cpu_s() - c0
            self.tracer.set_prop = sc.setLocalProperty
            times, cpu = {}, {}
            for name in self.names:
                # no pipeline's time may depend on what ran before it
                pq.clear_fit_cache()
                spark.catalog.clearCache()
                key = f"{tag}:{name}"
                if traced:
                    sc.setJobGroup(key, key)
                self.tracer.enabled = traced
                with (self.tracer.span(key, "pipeline") if traced
                      else contextlib.nullcontext()) as root:
                    c, t = tree_cpu_s(), time.perf_counter()
                    try:
                        df = self.queries[name](spark, self.data_dir)
                        save_data(df, self.out_dir(tag, name), fmt="parquet")
                    except Exception:
                        self.errors[key] = traceback.format_exc(limit=3)
                        sys.stderr.write(f"{key} raised:\n{self.errors[key]}")
                    times[name] = time.perf_counter() - t
                    cpu[name] = tree_cpu_s() - c
                self.tracer.enabled = False
                if traced:
                    self.status_jobs[root.id] = len(
                        sc.statusTracker().getJobIdsForGroup(key)
                    )
            rss_mb = peak_rss_mb()
        finally:
            stop_spark(spark)
            end_children()
        return {"tag": tag, "traced": traced, "start_s": start_s,
                "probe_s": probe_s, "setup_cpu_s": setup_cpu_s, "times": times, "cpu": cpu, "rss_mb": rss_mb,
                "log_dir": log_dir}


def run(args, cpus: int, run_dir: str) -> int:
    sys.path[:0] = [ROOT, HERE]
    import pyspark

    import checks
    import datagen
    import tracing

    # every program module is imported here, once, so that the first
    # session does not pay imports the later ones skip
    tracing.import_program()
    tracer = tracing.Tracer()
    if args.trace:
        tracer.instrument()
    imports_s = time.perf_counter() - T0
    imports_cpu_s = tree_cpu_s()

    import __spark_entry__ as entrymod

    # inputs and oracle hashes: outside setup_s and the timed region
    data_dir = os.path.join(run_dir, "data")
    datagen.write_tables(data_dir, args.seed)
    cache_dir = os.path.join(HERE, ".cache")
    os.makedirs(cache_dir, exist_ok=True)
    names = WORKLOADS[args.workload]
    cache_file = os.path.join(cache_dir, f"oracle-{datagen.fingerprint()}.json")
    sql = {n: entrymod.oracle_sql()[n] for n in names}
    oracle = checks.cached_oracle(cache_file, sql)
    if len(oracle) < len(names):
        # DuckDB runs in a child process, so its memory does not count
        # in driver_rss_mb. subprocess.run waits for the child, and kills
        # and reaps it if this run is interrupted.
        subprocess.run(
            [sys.executable, os.path.join(HERE, "checks.py"), cache_file, datagen.SOURCE_DIR],
            input=json.dumps(sql), text=True, check=True,
        )
        oracle = checks.cached_oracle(cache_file, sql)

    # A traced run alternates traced (T) and untraced (U) sessions; the
    # seed's parity picks which comes first, so that over runs the
    # first-session bias cancels in trace.overhead_s.
    bench = Bench(args.workload, data_dir, run_dir, tracer)
    sessions: list[dict] = []
    t_start = time.perf_counter()
    while not sessions or time.perf_counter() - t_start < args.seconds or (
        args.trace and len(sessions) < 2
    ):
        k = len(sessions)
        traced = bool(args.trace) and k % 2 == args.seed % 2
        sessions.append(bench.session(f"s{k}", traced))
    measure_s = time.perf_counter() - t_start
    untraced = [s for s in sessions if not s["traced"]]
    # per-pipeline medians over the untraced sessions
    med = {n: statistics.median(s["times"][n] for s in untraced) for n in names}
    med_cpu = {n: statistics.median(s["cpu"][n] for s in untraced) for n in names}

    # correctness: every session's results against the oracle
    results = [(f"{s['tag']}:{n}", n, bench.out_dir(s["tag"], n))
               for s in sessions for n in names]
    failures = checks.score(results, oracle, bench.errors)
    if args.trace:
        layers, pipelines = trace_layers(bench, tracing, sessions, med)
        # micro-batch jobs carry their stream's job group, not the
        # pipeline's, so only pipelines without streaming are compared
        failures.update({
            key: f"event log counts {p['spark.jobs']:.0f} jobs, statusTracker "
                 f"{p['status_tracker_jobs']}"
            for key, p in pipelines.items()
            if not p.get("streaming.batches") and p["spark.jobs"] != p["status_tracker_jobs"]
        })
    for key, why in failures.items():
        print(f"FAILED {key}: {why.splitlines()[0]}", file=sys.stderr)
    attempted, failed = len(results), len(failures)

    setup_s = imports_cpu_s + statistics.median(s["setup_cpu_s"] for s in untraced)
    setup_wall_s = imports_s + statistics.median(s["start_s"] + s["probe_s"] for s in untraced)
    info = provenance(cpus, args.seed, pyspark.__version__)
    info.update({
        "workload": args.workload, "sessions": len(sessions),
        "measure_s": round(measure_s, 3), "imports_s": round(imports_s, 3),
        "session_s": [round(s["start_s"], 3) for s in sessions],
        "setup_cpu_s": [round(s["setup_cpu_s"], 3) for s in sessions],
        "probe_s": [round(s["probe_s"], 3) for s in sessions],
        "session_walls": [round(sum(s["times"].values()), 3) for s in sessions],
    })
    print("provenance " + json.dumps(info, sort_keys=True))
    print("pipeline_s " + json.dumps(
        {n: {"wall": round(med[n], 3), "cpu": round(med_cpu[n], 3)} for n in names}
    ))

    if args.trace:
        res_dir = os.path.join(HERE, ".results")
        os.makedirs(res_dir, exist_ok=True)
        res_file = os.path.join(res_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(res_file, "w") as f:
            json.dump({"provenance": info, "layers": layers, "pipelines": pipelines},
                      f, indent=1, sort_keys=True)
        print(f"trace details: {os.path.relpath(res_file, ROOT)}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in per_layer_names().items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_s": {"value": sum(med_cpu.values()), "unit": "s"},
            "pipeline_p50_cpu_s": {"value": statistics.median(med_cpu.values()), "unit": "s"},
            "driver_rss_mb": {
                "value": statistics.median(s["rss_mb"] for s in untraced), "unit": "MB",
            },
        }
    # printed, not bounded: wall-clock figures on a shared host spread too
    # widely between runs (see README.md)
    shown = dict(
        metrics,
        setup_wall_s={"value": setup_wall_s, "unit": "s"},
        wall_s={"value": sum(med.values()), "unit": "s"},
        pipeline_p50_s={"value": statistics.median(med.values()), "unit": "s"},
        failed_share={"value": failed / attempted, "unit": "ratio"},
    )
    for k, m in shown.items():
        print(f"{k:28s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def trace_layers(bench: Bench, tracing, sessions: list[dict], untraced_med):
    """Per-layer figures averaged over the traced sessions, and
    per-pipeline breakdowns."""
    spans = bench.tracer.spans
    traced = [s for s in sessions if s["traced"]]
    per_session, pipelines = [], {}
    for s in traced:
        # job ids restart in every session: one log, one parse
        log = tracing.parse_event_log(tracing.event_files(s["log_dir"]))
        roots = [sp.id for sp in spans
                 if sp.layer == "pipeline" and sp.name.startswith(s["tag"] + ":")]
        layers = tracing.layer_metrics(spans, log, roots)
        layers["session.start_s"] = s["start_s"]
        layers["session.warm_s"] = s["probe_s"]
        layers["sinks.files"] = sum(
            1 for n in bench.names if os.path.isdir(bench.out_dir(s["tag"], n))
            for f in os.listdir(bench.out_dir(s["tag"], n))
            if not f.startswith(("_", "."))
        )
        layers["status_tracker_jobs"] = sum(bench.status_jobs[r] for r in roots)
        per_session.append(layers)
        for r in roots:
            pipelines[spans[r].name] = dict(
                tracing.layer_metrics(spans, log, [r]),
                wall_s=spans[r].end - spans[r].start,
                status_tracker_jobs=bench.status_jobs[r],
            )
    keys = {k for layers in per_session for k in layers}
    out = {k: statistics.fmean(layers.get(k, 0.0) for layers in per_session) for k in keys}
    traced_med = {n: statistics.median(s["times"][n] for s in traced) for n in bench.names}
    out["trace.overhead_s"] = sum(traced_med.values()) - sum(untraced_med.values())
    return out, pipelines

if __name__ == "__main__":
    sys.exit(main())
