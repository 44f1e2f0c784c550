#!/usr/bin/env python
"""Count the child processes the Spark JVM starts while named registry
pipelines run, and split the driver JVM's CPU seconds by thread.

Usage: python tools/jvm_process_starts.py NAME [NAME ...]

Runs every named ``__spark_entry__.queries()`` pipeline once, in order,
in one fresh session whose driver JVM records a Java Flight Recording
(``spark.driver.extraJavaOptions=-XX:StartFlightRecording``). Each
result is drained through the ``noop`` sink. The recording is dumped
after ``spark.stop()`` and read with the JDK's ``jfr`` tool; the
``jdk.ProcessStart`` events are printed as counts by command and by
starting thread (digits in thread names folded to ``N``, so a pool's
threads share one line).

The thread report reads ``/proc/<jvm pid>/task/*/stat`` once the
session is up and every quarter second while the pipelines run, and
prints the CPU seconds of each thread group (JIT compiler threads, GC
threads, the executor task pool, py4j's ``Thread-N``; trailing digits
folded to ``N``) in set-up and in the pipelines, under a header naming
the launch policy the measured JVM ran with: its ``CICompilerCount``
(JIT compiler threads), its collector (the ``GarbageCollectorMXBean``
names, e.g. ``G1 Young Generation`` or ``PS Scavenge``) and its
``Tier4InvocationThreshold`` (C2 promotion). A thread's CPU counts up
to its last read (HotSpot stops idle compiler threads beyond the first
of each kind); what no read saw shows only in the process total.

Without Hadoop's native library, local file-system calls fall back to
forking shell commands (``readlink`` for link status, ``chmod`` for
``setPermission``); this tool shows how many a pipeline pays, and where.

Inputs come from $SPARK_GRAFT_SF_DIR, by default the benchmark's sf0.01
tables in this checkout (``perfbench/data/sf0.01``).
"""

from __future__ import annotations

import collections
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import threading

#: the checkout this tool belongs to; its program is the one imported
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _jfr_binary() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if found is None:
        raise SystemExit("jvm_process_starts: the JDK's jfr tool is not on PATH or in $JAVA_HOME/bin")
    return found


#: /proc keeps the first 15 characters of a thread name: the pools
#: whose names it cuts, by what it keeps
_CUT_POOLS = {
    "C2 CompilerThre": "C2 CompilerThreadN",
    "C1 CompilerThre": "C1 CompilerThreadN",
    "Executor task l": "Executor task launch worker-N",
}
#: seconds between /proc reads: the JVM stops idle compiler threads, and
#: a thread's CPU is known up to its last read
_SAMPLE_EVERY = 0.25


def _cpu(stat_path: str) -> tuple[str, float]:
    """Name and CPU seconds of the process or thread of ``stat_path``."""
    with open(stat_path) as f:
        stat = f.read()
    utime, stime = stat[stat.rindex(")") + 2:].split()[11:13]
    name = stat[stat.index("(") + 1:stat.rindex(")")]
    return name, (int(utime) + int(stime)) / os.sysconf("SC_CLK_TCK")


def thread_cpu(pid: int) -> dict[int, tuple[str, float]]:
    """Name and CPU seconds of each live thread of process ``pid``."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            threads[int(tid)] = _cpu(f"/proc/{pid}/task/{tid}/stat")
        except FileNotFoundError:  # the thread exited meanwhile
            pass
    return threads


def _sample(pid: int, seen: dict, stop: threading.Event) -> None:
    while not stop.wait(_SAMPLE_EVERY):
        seen.update(thread_cpu(pid))


def _by_group(threads: dict[int, tuple[str, float]]) -> collections.Counter:
    groups: collections.Counter = collections.Counter()
    for name, sec in threads.values():
        groups[_CUT_POOLS.get(name, re.sub(r"\d+$", "N", name))] += sec
    return groups


def print_thread_report(policy: str, setup: tuple, end: tuple) -> None:
    """``policy``: :func:`launch_policy`. ``setup`` and ``end``: the
    process's CPU seconds and its threads' (:func:`thread_cpu`) once the
    session is up and after the pipelines."""
    print(f"\nJVM CPU seconds by thread ({policy}):")
    print(f"  {'set-up':>8s}  {'pipelines':>9s}  thread")
    before, after = _by_group(setup[1]), _by_group(end[1])
    for g, sec in sorted(after.items(), key=lambda kv: before[kv[0]] - kv[1]):
        if sec >= 0.05:
            print(f"  {before[g]:8.2f}  {sec - before[g]:9.2f}  {g}")
    unseen = [t - sum(groups.values()) for t, groups in ((setup[0], before), (end[0], after))]
    print(f"  {unseen[0]:8.2f}  {unseen[1] - unseen[0]:9.2f}  (threads never read)")
    print(f"  {setup[0]:8.2f}  {end[0] - setup[0]:9.2f}  process total")


def launch_policy(jvm) -> str:
    """The measured JVM's compiler threads, collector and C2 promotion
    threshold, as it runs with them."""
    management = jvm.java.lang.management.ManagementFactory
    flags = management.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    collectors = " + ".join(gc.getName() for gc in management.getGarbageCollectorMXBeans())
    return (
        f"CICompilerCount={flags.getVMOption('CICompilerCount').getValue()}, "
        f"collector={collectors}, "
        f"Tier4InvocationThreshold={flags.getVMOption('Tier4InvocationThreshold').getValue()}"
    )


def record(names: list[str], sf_dir: str, recording: str) -> tuple:
    """Run ``names`` in one fresh JFR-recording session; dump to
    ``recording``. Returns the arguments of :func:`print_thread_report`."""
    import __spark_entry__ as entrymod
    from meta_frame_spark.session import get_session

    spark = get_session(
        app_name="meta_frame_spark-process-starts",
        extra_conf={"spark.driver.extraJavaOptions": "-XX:StartFlightRecording"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    policy = launch_policy(jvm)
    qs = entrymod.queries()
    setup = _cpu(f"/proc/{pid}/stat")[1], thread_cpu(pid)
    seen, stop = dict(setup[1]), threading.Event()
    sampler = threading.Thread(target=_sample, args=(pid, seen, stop), daemon=True)
    sampler.start()
    try:
        for name in names:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        stop.set()
        sampler.join()
        seen.update(thread_cpu(pid))
        end = _cpu(f"/proc/{pid}/stat")[1], seen
        spark.stop()
    recordings = jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings()
    if recordings.isEmpty():
        raise SystemExit(
            "jvm_process_starts: the driver JVM is not recording; "
            "run the tool in a process with no Spark session yet"
        )
    recordings.get(0).dump(jvm.java.io.File(recording).toPath())
    return policy, setup, end


def process_starts(recording: str) -> list[dict]:
    """The ``jdk.ProcessStart`` events of ``recording``, as ``jfr`` prints them."""
    out = subprocess.run(
        [_jfr_binary(), "print", "--json", "--events", "jdk.ProcessStart", recording],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out)["recording"]["events"]


def command_of(event: dict) -> str:
    return os.path.basename(event["values"]["command"].split()[0])


def thread_of(event: dict) -> str:
    thread = event["values"].get("eventThread") or {}
    name = re.sub(r" \[id = [^]]*\]$", "", thread.get("javaName") or thread.get("osName") or "?")
    return re.sub(r"\d+", "N", name)


def main() -> int:
    names = sys.argv[1:]
    if not names or names[0] in ("-h", "--help"):
        print(__doc__)
        return 0 if names else 2
    import __spark_entry__ as entrymod

    unknown = [n for n in names if n not in entrymod.queries()]
    if unknown:
        print(f"jvm_process_starts: unknown pipeline(s): {', '.join(unknown)}", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "data", "sf0.01"))
    with tempfile.TemporaryDirectory(prefix="jvm_process_starts_") as tmp:
        recording = os.path.join(tmp, "driver.jfr")
        threads = record(names, sf_dir, recording)
        events = process_starts(recording)
    print(f"pipelines: {' '.join(names)}")
    print(f"process starts: {len(events)}")
    for title, key in (("by command", command_of), ("by thread", thread_of)):
        print(f"\n{title}:")
        for value, n in collections.Counter(map(key, events)).most_common():
            print(f"  {n:6d}  {value}")
    print_thread_report(*threads)
    return 0


if __name__ == "__main__":
    sys.exit(main())
