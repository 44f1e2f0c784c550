import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Run in a child interpreter: end_children ends every child of the
# process that calls it, which in pytest would include a live Spark JVM.
SCRIPT = """
import os, subprocess, time
import run

run.become_subreaper()
# the shell exits at once and leaves its background sleep behind, as
# spark-class leaves its launcher subshell under the JVM
out = subprocess.run(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                     capture_output=True, text=True, check=True)
pid = int(out.stdout)
assert run.proc_table()[pid][0] == os.getpid(), "orphan was not reparented"
t = time.monotonic()
run.end_children()
assert not os.path.exists(f"/proc/{pid}"), "orphan still exists"
assert time.monotonic() - t < 5
print("ok")
"""


def test_end_children_stops_and_reaps_orphaned_grandchildren():
    out = subprocess.run([sys.executable, "-c", SCRIPT], cwd=BENCH,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
