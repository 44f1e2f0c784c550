#!/usr/bin/env python
"""Pre-commit guard for the canonical clean benchmark record.

The per-round driver overwrites the working-tree BENCH_FULL.json with
its own (usually slot-contended) record; committing that regressed the
canonical numbers three rounds running (VERDICT r10 "What's wrong" #1).
This guard exits nonzero if the working-tree BENCH_FULL.json is NOT a
clean record — i.e. its probe says ``record_contended: true`` or lists
any contended queries, or its ``cpus`` is missing or differs from the
committed record's (``git show HEAD:BENCH_FULL.json``): seconds are
never compared across core counts — printing the one-line fix (``git
restore BENCH_FULL.json``).

Run it standalone, or let bench.py / tools/bench_sliced.py call
``warn()`` at startup (warn-only there: a bench RUN with a contended
record in the tree is fine; COMMITTING it is not).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORD = os.path.join(ROOT, "BENCH_FULL.json")


def committed_cpus() -> int | None:
    """``cpus`` of the committed BENCH_FULL.json, or ``None`` outside a
    git checkout or when HEAD has no such record."""
    try:
        out = subprocess.run(
            ["git", "show", "HEAD:BENCH_FULL.json"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout
        return json.loads(out).get("cpus")
    except (OSError, subprocess.CalledProcessError, json.JSONDecodeError):
        return None


def record_is_clean(path: str = RECORD, cpus: int | None = None) -> tuple[bool, str]:
    """(ok, message). Missing record is OK (nothing to mis-commit).
    ``cpus``: the core count the record must carry, by default the
    committed record's (:func:`committed_cpus`)."""
    if not os.path.exists(path):
        return True, "no BENCH_FULL.json in working tree"
    try:
        with open(path) as fh:
            rec = json.load(fh)
    except (OSError, json.JSONDecodeError) as exc:
        return False, f"BENCH_FULL.json unreadable: {exc}"
    probe = rec.get("probe", {}) or {}
    contended = probe.get("contended") or []
    if probe.get("record_contended") or contended:
        return False, (
            "BENCH_FULL.json is a CONTENDED record "
            f"(record_contended={probe.get('record_contended')}, "
            f"contended={contended}, total={rec.get('value')}s). "
            "Do NOT commit it — run `git restore BENCH_FULL.json` to "
            "bring back the clean canonical record (BASELINE.md "
            "two-record protocol)."
        )
    cpus = committed_cpus() if cpus is None else cpus
    if cpus is not None and rec.get("cpus") != cpus:
        return False, (
            f"BENCH_FULL.json is a record of cpus={rec.get('cpus')}, the "
            f"committed one of cpus={cpus}: never compare across core "
            "counts. Do NOT commit it — run `git restore BENCH_FULL.json`."
        )
    return True, (
        f"clean record (total={rec.get('value')}s, "
        f"{len(rec.get('queries', {}))} queries)"
    )


def warn(path: str = RECORD) -> None:
    """Non-fatal startup check for the bench harnesses."""
    ok, msg = record_is_clean(path)
    if not ok:
        print(f"[check_bench_record] WARNING: {msg}", file=sys.stderr)


def main() -> int:
    ok, msg = record_is_clean()
    print(("OK: " if ok else "FAIL: ") + msg)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
