#!/usr/bin/env python
"""Sliced clean-bench recorder (VERDICT r9 "Next round" #1).

Seven whole-suite round-9 attempts all hit the same slot throttle:
sustained 32-core load degrades ~30 s in (probes 0.25-0.59 vs 0.2
clean) while SHORT bursts stay clean — so a 3.5-minute monolithic
bench can never get a clean bracket on this host, but a sliced one
can. This tool runs the exact bench.py measurement (same warmups,
same noop-sink forcing, same clearCache per query, same canonical
sorted order) in short probe-bracketed slices with an idle gap
between them:

* queries are packed into slices whose EXPECTED wall (from the last
  committed clean record, default 1 s for new queries) stays under
  --slice-budget seconds (default 12), so no slice sustains load
  long enough to trip the throttle;
* each slice is bracketed by the same CPU-bound probe bench.py uses;
  a slice is CLEAN only if both probes are <= bench.DIRTY_RATIO x the
  clean value, derived as in bench.py: the fastest probe this run
  timed, or the clean value of the --expected record when that ran on
  the same cpus (a slice judged clean mid-run is re-judged against
  the final value);
* after each slice the process sleeps --gap seconds (default 45) so
  burst credits regenerate;
* queries whose every slice so far was dirty are re-sliced (halved
  budget, doubled gap) for up to --passes passes (default 4);
* the recorded value per query is the MIN over all attempts
  (external contention can only ADD time to a CPU-bound noop sink,
  so every measurement is an upper bound and min is sound — the
  same rule bench.py's rerun protocol uses);
* a query is recorded as clean-bracketed if ANY attempt sat in a
  clean slice; the record's `record_contended` is true unless every
  query it carries a value for got a clean bracket.

The warm-ups, probe, run_one and min-merge are bench.py's own
functions, imported from it.

Output: the full bench.py-shaped payload, `cpus` included, written
to --out (required)
— inspect it and copy over BENCH_FULL.json only if `record_contended`
is false.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402  (caps the BLAS pools before numpy loads)


def contended_queries(measured: dict[str, float], clean_ok: set[str]) -> list[str]:
    """The recorded queries no clean slice bracketed. Only queries the
    record carries a value for count: an ``--only`` run judges what it
    measured, plus, with ``--merge``, the whole prior record."""
    return sorted(set(measured) - clean_ok)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--slice-budget", type=float, default=12.0)
    ap.add_argument("--gap", type=float, default=45.0)
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("--out", required=True)
    ap.add_argument("--expected", default=None,
                    help="clean record JSON for slice packing "
                         "(default: repo BENCH_FULL.json)")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names: re-measure just "
                         "these (use with --merge)")
    ap.add_argument("--merge", default=None,
                    help="existing sliced record to min-merge into: "
                         "its per-query values and clean markers are "
                         "preloaded, new attempts only ever lower "
                         "values / add clean brackets (sound under "
                         "the min rule — same code, same protocol, "
                         "same cpus: a record of another core count "
                         "is refused, exit 2)")
    ap.add_argument("--replace", action="store_true",
                    help="with --only + --merge: discard the prior "
                         "values/clean markers of the --only queries "
                         "instead of min-merging (use after a CODE "
                         "change to those queries — the min rule is "
                         "only sound across same-code attempts)")
    args = ap.parse_args()

    bench.warn_record()
    sf_dir = args.sf_dir
    sf = bench.sf_of(sf_dir)
    incumbent = bench.load_record(
        args.expected or os.path.join(bench.HERE, "BENCH_FULL.json")) or {}
    expected: dict[str, float] = incumbent.get("queries", {})
    prior = None
    if args.merge:
        prior = bench.load_record(args.merge)
        if prior is None:
            raise SystemExit(f"--merge record unreadable: {args.merge}")

    import __spark_entry__ as entrymod
    from meta_frame_spark.session import get_session, local_task_slots

    spark = get_session(app_name="meta_frame_spark-bench-sliced")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = local_task_slots(spark)
    if prior is not None and not bench.same_cpus(prior, cpus):
        if "cpus" in prior:
            # the min rule only holds across runs on the same cores
            print(f"--merge record ran on {prior['cpus']} cpus, this run "
                  f"on {cpus}: seconds do not merge across core counts",
                  file=sys.stderr)
            spark.stop()
            return 2
        print(f"WARNING: --merge record has no cpus; check it ran on "
              f"{cpus} cpus", file=sys.stderr)
    _, lent_clean = bench.reference(incumbent, sf, cpus)
    all_queries = dict(sorted(entrymod.queries().items()))
    bench.warm_session(spark, all_queries)
    bench.probe(spark)  # compile the probe plan untimed

    def pack(names: list[str], budget: float) -> list[list[str]]:
        slices, cur, cur_w = [], [], 0.0
        for n in names:  # canonical sorted order preserved
            w = float(expected.get(n, 1.0))
            if cur and cur_w + w > budget:
                slices.append(cur)
                cur, cur_w = [], 0.0
            cur.append(n)
            cur_w += w
        if cur:
            slices.append(cur)
        return slices

    best: dict[str, float] = {}
    prior_clean: set[str] = set()
    prior_slices: list[dict] = []  # kept in the log, judged by their own run
    slice_log: list[dict] = []
    all_probes: list[float] = []  # this run's, in order
    if prior is not None:
        best.update(prior["queries"])
        prior_clean.update(
            set(prior["queries"]) - set(prior["probe"].get("contended", []))
        )
        prior_slices = prior["probe"].get("slices", [])
    todo = list(all_queries)
    if args.only:
        wanted = {n.strip() for n in args.only.split(",") if n.strip()}
        unknown = wanted - set(all_queries)
        if unknown:
            raise SystemExit(f"--only names not registered: {sorted(unknown)}")
        todo = [n for n in todo if n in wanted]
        if args.replace:
            for n in wanted:
                best.pop(n, None)
                prior_clean.discard(n)
    # fixed for every pass: a query whose slice a later, lower clean
    # value re-judges dirty is measured again
    scope = set(todo)

    def judge() -> tuple[float, set[str]]:
        """The clean value over every probe this run timed so far, and
        the queries with a clean-bracketed attempt under it (this run's
        slices, plus the merged record's clean queries)."""
        clean = bench.clean_sec(all_probes, lent_clean)
        for s in slice_log:
            s["clean"] = bench.bracket_clean(s["probe_pre"], s["probe_post"], clean)
        return clean, prior_clean.union(
            *(s["queries"] for s in slice_log if s["clean"]))

    budget, gap = args.slice_budget, args.gap

    for pass_no in range(1, args.passes + 1):
        if not todo:
            break
        slices = pack(todo, budget)
        print(f"[pass {pass_no}] {len(todo)} queries in {len(slices)} "
              f"slices (budget {budget}s, gap {gap}s)", flush=True)
        for si, names in enumerate(slices):
            # Per-slice codegen/JIT pre-warm (VERDICT r10 "Next round"
            # #2): run THIS slice's queries once at sf0.001, untimed,
            # so heavy-codegen queries hit the codegen cache inside
            # their timed run — the monolithic bench amortized that
            # warm-up across the suite; without this, every sliced
            # attempt pays it and the MIN rule can't remove it
            # (pmi_collocations recorded 6.2 s vs its own <= 1.9 s
            # contended driver upper bound). Warm BEFORE the probe so
            # our own warm load can't dirty the contention bracket.
            bench.prewarm(spark, all_queries, names)
            time.sleep(gap)
            p_pre = bench.probe(spark)
            vals = {n: bench.run_one(spark, all_queries[n], sf_dir)
                    for n in names}
            p_post = bench.probe(spark)
            all_probes += [p_pre, p_post]
            bench.merge_min(best, vals)
            slice_log.append({
                "pass": pass_no, "slice": si, "queries": names,
                "probe_pre": p_pre, "probe_post": p_post,
                "wall": round(sum(vals.values()), 3),
            })
            print(f"  slice {si}: pre={p_pre} post={p_post} "
                  f"wall={round(sum(vals.values()), 2)} "
                  f"({len(names)} queries)", flush=True)
        clean, clean_ok = judge()
        print(f"[pass {pass_no}] clean probe value {clean}s: "
              f"{sum(s['clean'] for s in slice_log)}/{len(slice_log)} "
              "slices clean", flush=True)
        todo = [n for n in all_queries if n in scope and n not in clean_ok]
        budget = max(4.0, budget / 2)
        gap = min(180.0, gap * 2)

    clean, clean_ok = judge()
    contended = contended_queries(best, clean_ok)
    record_contended = bool(contended)
    total = round(sum(best.values()), 3)
    payload = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": best,
        "sf": sf,
        "cpus": cpus,
        "probe": {
            "protocol": "sliced",
            "clean_sec": clean,
            "load_1m": bench.load_1m(),
            "start_sec": all_probes[0] if all_probes else -1.0,
            "end_sec": all_probes[-1] if all_probes else -1.0,
            "max_interleaved": max(all_probes) if all_probes else -1.0,
            "slices": prior_slices + slice_log,
            "contended": contended,
            "record_contended": record_contended,
        },
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({
        "metric": "total_query_sec", "value": total,
        "n_queries": len(best), "n_clean": len(clean_ok), "cpus": cpus,
        "contended": contended, "record_contended": record_contended,
        "out": args.out,
    }), flush=True)
    return 0 if not record_contended else 1


if __name__ == "__main__":
    raise SystemExit(main())
