#!/usr/bin/env python
"""Count the child processes the Spark JVM starts while named registry
pipelines run.

Usage: python tools/jvm_process_starts.py NAME [NAME ...]

Runs every named ``__spark_entry__.queries()`` pipeline once, in order,
in one fresh session whose driver JVM records a Java Flight Recording
(``spark.driver.extraJavaOptions=-XX:StartFlightRecording``). Each
result is drained through the ``noop`` sink. The recording is dumped
after ``spark.stop()`` and read with the JDK's ``jfr`` tool; the
``jdk.ProcessStart`` events are printed as counts by command and by
starting thread (digits in thread names folded to ``N``, so a pool's
threads share one line).

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


def record(names: list[str], sf_dir: str, recording: str) -> None:
    """Run ``names`` in one fresh JFR-recording session; dump to ``recording``."""
    import __spark_entry__ as entrymod
    from meta_frame_spark.session import get_session

    spark = get_session(
        app_name="meta_frame_spark-process-starts",
        extra_conf={"spark.driver.extraJavaOptions": "-XX:StartFlightRecording"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    qs = entrymod.queries()
    try:
        for name in names:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        spark.stop()
    recordings = jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings()
    if recordings.isEmpty():
        raise SystemExit(
            "jvm_process_starts: the driver JVM is not recording; "
            "run the tool in a process with no Spark session yet"
        )
    recordings.get(0).dump(jvm.java.io.File(recording).toPath())


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
        record(names, sf_dir, recording)
        events = process_starts(recording)
    print(f"pipelines: {' '.join(names)}")
    print(f"process starts: {len(events)}")
    for title, key in (("by command", command_of), ("by thread", thread_of)):
        print(f"\n{title}:")
        for value, n in collections.Counter(map(key, events)).most_common():
            print(f"  {n:6d}  {value}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
