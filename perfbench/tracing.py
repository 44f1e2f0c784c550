"""Traced-run machinery: spans around the program's public functions and
a parser for Spark's uncompressed event log.

Spans are recorded by wrappers installed from outside the program: every
public function of a layer module is replaced, in every loaded module
namespace that holds it, by a wrapper that records (name, layer, start,
end, parent) and tags the Spark jobs it starts with the local property
``perfbench.span``. The event log then attributes each
``SparkListenerJobStart`` to the innermost open span, and the task,
Python-worker and streaming-progress figures come from the same log.
"""

from __future__ import annotations

import contextlib
import datetime
import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import statistics
import sys
import time
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
PACKAGE = "meta_frame_spark"
#: subpackages of meta_frame_spark whose public functions get spans
LAYER_PACKAGES = ("config", "plans", "sources", "streaming", "operators")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float | None = None
    parent: int | None = None


def import_program() -> None:
    """Import every module of the program except its command line."""
    pkg = importlib.import_module(PACKAGE)
    for info in pkgutil.walk_packages(pkg.__path__, PACKAGE + "."):
        if not info.name.endswith(".__main__"):
            importlib.import_module(info.name)


def layer_of(module: str, func: str) -> str | None:
    """The layer a public function of ``module`` belongs to."""
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 3 or parts[1] not in LAYER_PACKAGES:
        return None
    if func.startswith("validate_") and func.endswith("_config"):
        return "config"
    if parts[1] == "plans":
        return "plans"
    if parts[1:] == ["sources", "sinks"]:
        return "sinks"
    if parts[1] == "sources":
        return "sources"
    if parts[1] == "streaming":
        return "streaming"
    return f"operators.{parts[2]}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (children clipped to the parent, overlaps
    between children counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        iv = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, [])
        ]
        out[s.id] = (s.end - s.start) - union_length(iv)
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records spans while ``enabled``; wrappers stay installed for the
    whole run and are a pass-through when disabled."""

    def __init__(self, set_prop=None):
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []
        #: (key, value or None) -> None; tags the Spark jobs a span starts
        self.set_prop = set_prop

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span, child of the innermost open one, and tag the
        Spark jobs started inside it."""
        s = Span(len(self.spans), name, layer, time.time(),
                 parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(s.id)
        if self.set_prop:
            self.set_prop(SPAN_PROP, str(s.id))
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.set_prop:
                self.set_prop(SPAN_PROP, str(self._stack[-1]) if self._stack else None)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def instrument(self) -> None:
        """Wrap every public function of every loaded layer module and
        rebind the wrapper wherever a loaded module holds the original."""
        originals = {}
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PACKAGE + "."):
                continue
            for fname, fn in vars(mod).items():
                if (fname.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mname or hasattr(fn, "evalType")
                        or hasattr(fn, "__perfbench_original__")):
                    continue
                layer = layer_of(mname, fname)
                if layer:
                    originals[id(fn)] = (fn, self.wrap(fn, f"{mname}.{fname}", layer))
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not isinstance(d, dict):
                continue
            for k, v in list(d.items()):
                hit = originals.get(id(v))
                if hit is not None and hit[0] is v:
                    d[k] = hit[1]


# ---------------------------------------------------------------- event log

_PY_NODE_HINTS = ("Python", "Pandas", "Arrow")


@dataclass
class Job:
    id: int
    start: float
    end: float | None
    span: int | None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    #: one dict of metrics per finished task
    tasks: list[dict] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    #: accumulator ids of the Python plan nodes' "number of output rows"
    udf_row_accums: set[int] = field(default_factory=set)


def _plan_python_row_accums(plan: dict, out: set[int]) -> None:
    if any(h in plan.get("nodeName", "") for h in _PY_NODE_HINTS):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _plan_python_row_accums(child, out)


def event_files(log_dir: str) -> list[str]:
    """The parts of the rolling event log (``eventlog_v2_*/events_*``)
    that Spark writes under ``log_dir``, in order."""
    parts = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    if not parts:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return parts


def parse_event_log(files: list[str]) -> EventLog:
    log = EventLog()
    for path in files:
        with open(path) as f:
            for line in f:
                _consume(log, json.loads(line))
    return log


def _consume(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event", "")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        span = props.get(SPAN_PROP)
        stages = [s["Stage ID"] for s in ev.get("Stage Infos", [])]
        log.jobs[ev["Job ID"]] = Job(
            ev["Job ID"], ev["Submission Time"] / 1000.0, None,
            int(span) if span not in (None, "") else None, stages,
        )
        for s in stages:
            log.stage_job[s] = ev["Job ID"]
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(ev["Job ID"])
        if job is not None:
            job.end = ev["Completion Time"] / 1000.0
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        outp = m.get("Output Metrics") or {}
        acc: dict[str, float] = {}
        acc_ids: dict[int, float] = {}
        for a in info.get("Accumulables", []):
            try:
                v = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
            acc[a["Name"]] = acc.get(a["Name"], 0.0) + v
            acc_ids[int(a["ID"])] = v
        log.tasks.append({
            "stage": ev["Stage ID"],
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "shuffle_read_b": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
            "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "input_rows": inp.get("Records Read", 0),
            "input_b": inp.get("Bytes Read", 0),
            "output_rows": outp.get("Records Written", 0),
            "output_b": outp.get("Bytes Written", 0),
            "acc": acc,
            "acc_ids": acc_ids,
        })
    elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
        "SparkListenerSQLAdaptiveExecutionUpdate"
    ):
        plan = ev.get("sparkPlanInfo")
        if plan:
            _plan_python_row_accums(plan, log.udf_row_accums)
    elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
        log.progress.append(ev["progress"])


# ------------------------------------------------------------ aggregation

MB = 1024 * 1024


def _iso_epoch(ts: str) -> float:
    """Epoch seconds of a streaming progress timestamp (UTC, ``Z``)."""
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _ancestors(spans_by_id: dict[int, Span], sid: int | None):
    while sid is not None:
        s = spans_by_id[sid]
        yield s
        sid = s.parent


def layer_metrics(spans: list[Span], log: EventLog, roots: list[int]) -> dict[str, float]:
    """Per-layer figures of the pipelines whose root spans are ``roots``.

    ``roots`` are the ids of the per-pipeline root spans the benchmark
    opened; only jobs and tasks attributed to them (or their
    descendants) count.
    """
    by_id = {s.id: s for s in spans}
    selft = self_times(spans)
    root_set = set(roots)
    out: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        out[k] = out.get(k, 0.0) + v

    def root_of(sid):
        last = None
        for a in _ancestors(by_id, sid):
            last = a
        return last.id if last is not None and last.id in root_set else None

    in_pass = [s for s in spans if root_of(s.id) is not None]
    for s in in_pass:
        layer = s.layer
        if layer == "config":
            add("config.validate_calls", 1)
            add("config.validate_s", s.end - s.start)
        elif layer == "plans":
            add("plans.build_calls", 1)
            add("plans.build_s", selft[s.id])
        elif layer == "sources":
            add("sources.read_calls", 1)
            add("sources.read_s", selft[s.id])
        elif layer == "sinks":
            add("sinks.write_s", s.end - s.start)
        elif layer.startswith("operators."):
            add(f"{layer}.calls", 1)
            add(f"{layer}.self_s", selft[s.id])

    jobs = [j for j in log.jobs.values()
            if j.span is not None and j.span in by_id and root_of(j.span) is not None]
    job_ids = {j.id for j in jobs}
    stage_ids = {s for j in jobs for s in j.stages}
    for j in jobs:
        chain = list(_ancestors(by_id, j.span))
        if any(a.layer == "plans" for a in chain):
            add("plans.build_jobs", 1)
        op = next((a.layer for a in chain if a.layer.startswith("operators.")), None)
        if op:
            add(f"{op}.jobs", 1)
    add("spark.jobs", len(jobs))

    # job-active time and driver gap per pipeline root
    active = 0.0
    wall = 0.0
    for r in roots:
        s = by_id[r]
        iv = [(max(j.start, s.start), min(j.end or s.end, s.end))
              for j in jobs if root_of(j.span) == r]
        a = union_length(iv)
        active += a
        wall += s.end - s.start
    add("spark.job_active_s", active)
    add("spark.driver_gap_s", wall - active)

    tasks = [t for t in log.tasks if log.stage_job.get(t["stage"]) in job_ids]
    stages_run = {t["stage"] for t in tasks}
    add("spark.stages", len(stages_run & stage_ids))
    add("spark.tasks", len(tasks))
    sink_jobs = {j.id for j in jobs
                 if any(a.layer == "sinks" for a in _ancestors(by_id, j.span))}
    per_stage: dict[int, list[float]] = {}
    for t in tasks:
        add("spark.exec_cpu_s", t["cpu_s"])
        add("spark.exec_run_s", t["run_s"])
        add("spark.gc_s", t["gc_s"])
        add("spark.shuffle_read_mb", t["shuffle_read_b"] / MB)
        add("spark.shuffle_write_mb", t["shuffle_write_b"] / MB)
        add("spark.spill_mb", t["spill_b"] / MB)
        add("sources.input_rows", t["input_rows"])
        add("sources.input_mb", t["input_b"] / MB)
        if log.stage_job[t["stage"]] in sink_jobs:
            add("sinks.output_rows", t["output_rows"])
            add("sinks.output_mb", t["output_b"] / MB)
        acc = t["acc"]
        add("functions.udf_run_s", acc.get("time to run Python workers", 0.0) / 1e3)
        add("functions.udf_boot_s", acc.get("time to start Python workers", 0.0) / 1e3)
        add("functions.udf_sent_mb", acc.get("data sent to Python workers", 0.0) / MB)
        add("functions.udf_rows", sum(
            v for k, v in t["acc_ids"].items() if k in log.udf_row_accums
        ))
        per_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = [max(v) / max(statistics.median(v), 1e-3)
            for v in per_stage.values() if len(v) > 1]
    worst_skew = max(skew, default=1.0)

    windows = [(by_id[r].start, by_id[r].end) for r in roots]
    for p in log.progress:
        at = _iso_epoch(p["timestamp"])
        if not any(a <= at <= b for a, b in windows):
            continue
        d = p.get("durationMs", {})
        add("streaming.batches", 1)
        if all(src.get("numInputRows", 0) == 0 for src in p.get("sources", [])):
            add("streaming.empty_batches", 1)
        add("streaming.trigger_s", d.get("triggerExecution", 0) / 1e3)
        add("streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
        add("streaming.planning_s", d.get("queryPlanning", 0) / 1e3)
        add("streaming.commit_s", (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
        for op in p.get("stateOperators", []):
            add("streaming.state_commit_s", op.get("commitTimeMs", 0) / 1e3)
            add("streaming.state_rows", op.get("numRowsTotal", 0))
    harness = sum(s.end - s.start for s in in_pass
                  if s.name.endswith("streaming.ops.run_to_memory"))
    if harness:
        add("streaming.harness_s", harness - out.get("streaming.trigger_s", 0.0))

    out["spark.task_skew"] = worst_skew
    return out
