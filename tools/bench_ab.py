#!/usr/bin/env python
"""Slot-normalized A/B with PER-QUERY deltas (VERDICT r10 "Next round"
#5; extends the suite-total-only rig of r8-r10).

Two modes:

* **compare**: `python tools/bench_ab.py A.json B.json` — two
  bench-format records (bench.py's BENCH_LAST.json / BENCH_FULL.json)
  taken on the same slot; prints the per-query ratio table.
* **run**: `python tools/bench_ab.py --run DIR_A DIR_B [--reps N]` —
  executes each checkout's own `bench.py` back-to-back in A-B-B-A
  order (order alternation cancels slot drift within a rep pair),
  harvesting each run's BENCH_LAST.json. Per side, each query's value
  is the MIN across its runs (external contention only ADDS time to a
  CPU-bound noop sink, so every run is an upper bound and min is
  sound — bench.py's own rerun rule). Then prints the same table.

How to read the table (also documented in BASELINE.md):

* `ratio` = B_min / A_min per query. Under shared-slot contention the
  absolute seconds are slot artifacts but the RATIO is controlled —
  both sides saw the same machine. Ratios within ±20% on sub-second
  queries are scheduling noise (the ±30-50% single-run band shrinks
  with min-of-reps but does not vanish).
* the summary's `shared total` ratio is the suite-level number the
  round verdicts quote; `movers` lists queries past --threshold with
  at least --min-sec on the slower side, i.e. the only entries worth
  chasing.
* queries present on one side only are listed, never ratio'd.
* records on different core counts (both carrying `cpus`) are never
  compared: the tool exits 2. A record without `cpus` draws a warning.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import load_record, merge_min  # noqa: E402


def _run_side(repo_dir: str, sf_dir: str | None) -> dict:
    env = dict(os.environ)
    if sf_dir:
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
    # don't let an old-checkout bench.py (which writes BENCH_FULL.json
    # unconditionally) clobber a record we later read stale: note the
    # pre-run mtimes and read whichever payload this run actually wrote
    last = os.path.join(repo_dir, "BENCH_LAST.json")
    full = os.path.join(repo_dir, "BENCH_FULL.json")
    before = {p: os.path.getmtime(p) for p in (last, full)
              if os.path.exists(p)}
    subprocess.run(
        [sys.executable, "bench.py"], cwd=repo_dir, env=env,
        check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    for p in (last, full):
        if os.path.exists(p) and os.path.getmtime(p) != before.get(p):
            return load_record(p)
    raise RuntimeError(f"bench.py in {repo_dir} wrote no record")


def report(a: dict[str, float], b: dict[str, float],
           threshold: float, min_sec: float) -> int:
    shared = sorted(set(a) & set(b))
    only_a = sorted(set(a) - set(b))
    only_b = sorted(set(b) - set(a))
    rows = [(q, a[q], b[q], (b[q] / a[q]) if a[q] > 0 else float("inf"))
            for q in shared]
    rows.sort(key=lambda r: -r[3])
    print(f"{'query':34s} {'A sec':>8s} {'B sec':>8s} {'B/A':>6s}")
    for q, av, bv, r in rows:
        print(f"{q:34s} {av:8.3f} {bv:8.3f} {r:6.2f}")
    ta, tb = sum(a[q] for q in shared), sum(b[q] for q in shared)
    print(f"\nshared total ({len(shared)} queries): "
          f"A={ta:.1f}s B={tb:.1f}s ratio={tb / ta:.3f}")
    movers = [(q, av, bv, r) for q, av, bv, r in rows
              if max(av, bv) >= min_sec
              and (r >= threshold or r <= 1.0 / threshold)]
    if movers:
        print(f"movers (>= {min_sec}s and past {threshold}x either way):")
        for q, av, bv, r in movers:
            print(f"  {q}: {av:.2f} -> {bv:.2f} ({r:.2f}x)")
    else:
        print(f"movers past {threshold}x with >= {min_sec}s: none")
    if only_a:
        print(f"only in A ({len(only_a)}): {', '.join(only_a)}")
    if only_b:
        print(f"only in B ({len(only_b)}): {', '.join(only_b)}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("records", nargs="*",
                    help="compare mode: two bench-format JSON records")
    ap.add_argument("--run", nargs=2, metavar=("DIR_A", "DIR_B"),
                    help="run mode: two repo checkouts, each with its "
                         "own bench.py (e.g. a worktree at the record "
                         "commit vs the main tree at HEAD)")
    ap.add_argument("--reps", type=int, default=1,
                    help="run mode: A-B-B-A rep pairs (default 1 = "
                         "2 runs per side)")
    ap.add_argument("--sf-dir", default=None,
                    help="run mode: SPARK_GRAFT_SF_DIR for both sides")
    ap.add_argument("--threshold", type=float, default=1.3,
                    help="mover ratio (default 1.3x either direction)")
    ap.add_argument("--min-sec", type=float, default=0.8,
                    help="mover floor on the slower side (default 0.8s)")
    ap.add_argument("--out", default=None,
                    help="also dump {a, b} min-merged queries as JSON")
    args = ap.parse_args()

    if args.run:
        da, db = args.run
        a: dict[str, float] = {}
        b: dict[str, float] = {}
        cpus: dict[str, int | None] = {}
        for rep in range(args.reps):
            order = [("A", da, a), ("B", db, b), ("B", db, b), ("A", da, a)]
            for name, d, acc in order:
                print(f"[rep {rep}] running {name} ({d}) ...", flush=True)
                rec = _run_side(d, args.sf_dir)
                cpus[name] = rec.get("cpus")
                print(f"[rep {rep}] {name} cpus={cpus[name]}", flush=True)
                merge_min(acc, rec["queries"])
        cpus_a, cpus_b = cpus["A"], cpus["B"]
    elif len(args.records) == 2:
        ra, rb = (load_record(p) for p in args.records)
        if ra is None or rb is None:
            ap.error("unreadable record")
        a, b = ra["queries"], rb["queries"]
        cpus_a, cpus_b = ra.get("cpus"), rb.get("cpus")
    else:
        ap.error("give two record paths, or --run DIR_A DIR_B")
        return 2
    if cpus_a is None or cpus_b is None:
        print(f"WARNING: a record without cpus (A={cpus_a}, B={cpus_b}); "
              "check both ran on the same core count", file=sys.stderr)
    elif cpus_a != cpus_b:
        print(f"A ran on {cpus_a} cpus and B on {cpus_b}: seconds do not "
              "compare across core counts", file=sys.stderr)
        return 2
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"a": a, "b": b}, f, indent=1)
    return report(a, b, args.threshold, args.min_sec)


if __name__ == "__main__":
    raise SystemExit(main())
