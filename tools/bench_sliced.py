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
  a slice is CLEAN only if both probes are <= 1.5x the frozen 0.2 s
  clean value;
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
  query got a clean bracket.

Output: the full bench.py-shaped payload written to --out (required)
— inspect it and copy over BENCH_FULL.json only if `record_contended`
is false.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "8")

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE_CLEAN_SEC = 0.2  # frozen clean-slot probe value (bench.py)


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
                         "the min rule — same code, same protocol)")
    ap.add_argument("--replace", action="store_true",
                    help="with --only + --merge: discard the prior "
                         "values/clean markers of the --only queries "
                         "instead of min-merging (use after a CODE "
                         "change to those queries — the min rule is "
                         "only sound across same-code attempts)")
    args = ap.parse_args()

    try:
        from tools.check_bench_record import warn as _bench_record_warn

        _bench_record_warn()
    except Exception:
        pass

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = args.sf_dir
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    expected_src = args.expected or os.path.join(here, "BENCH_FULL.json")
    expected: dict[str, float] = {}
    try:
        with open(expected_src) as f:
            expected = json.load(f).get("queries", {})
    except OSError:
        pass

    import __spark_entry__ as entrymod
    from bench import WARM_QUERIES
    from meta_frame_spark.session import get_session

    spark = get_session(app_name="meta_frame_spark-bench-sliced")
    spark.sparkContext.setLogLevel("ERROR")

    # --- identical warmups to bench.py ---
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1_000_000).select(_warm("id").alias("id")).selectExpr(
        "max(id)").collect()
    spark.createDataFrame([(1, "x")], "a long, b string").collect()
    all_queries = dict(sorted(entrymod.queries().items()))
    warm_sf = "/root/testdata/sf0.001"
    if os.path.isdir(warm_sf):
        for wname in WARM_QUERIES:
            try:
                all_queries[wname](spark, warm_sf).write.format("noop").mode(
                    "overwrite").save()
            except Exception:
                pass
        spark.catalog.clearCache()

    def _probe() -> float:
        t0 = time.perf_counter()
        spark.range(200_000_000, numPartitions=32).selectExpr(
            "count(if(id % 7 = 0, 1, null)) as n"
        ).collect()
        return round(time.perf_counter() - t0, 3)

    def run_one(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        return sec

    _probe()  # compile the probe plan untimed

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
    clean_ok: set[str] = set()
    slice_log: list[dict] = []
    if args.merge:
        with open(args.merge) as f:
            prior = json.load(f)
        best.update(prior["queries"])
        clean_ok.update(
            set(prior["queries"]) - set(prior["probe"].get("contended", []))
        )
        slice_log.extend(prior["probe"].get("slices", []))
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
                clean_ok.discard(n)
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
            if os.path.isdir(warm_sf):
                for n in names:
                    try:
                        all_queries[n](spark, warm_sf).write.format(
                            "noop").mode("overwrite").save()
                    except Exception:
                        pass
                spark.catalog.clearCache()
            time.sleep(gap)
            p_pre = _probe()
            vals = {}
            for n in names:
                vals[n] = run_one(all_queries[n])
            p_post = _probe()
            clean = (p_pre <= 1.5 * PROBE_CLEAN_SEC
                     and p_post <= 1.5 * PROBE_CLEAN_SEC)
            for n, v in vals.items():
                if n not in best or v < best[n]:
                    best[n] = v
                if clean:
                    clean_ok.add(n)
            slice_log.append({
                "pass": pass_no, "slice": si, "queries": names,
                "probe_pre": p_pre, "probe_post": p_post,
                "clean": clean, "wall": round(sum(vals.values()), 3),
            })
            print(f"  slice {si}: pre={p_pre} post={p_post} "
                  f"clean={clean} wall={round(sum(vals.values()), 2)} "
                  f"({len(names)} queries)", flush=True)
        scope = set(todo) if args.only else set(all_queries)
        todo = [n for n in list(all_queries)
                if n in scope and n not in clean_ok]
        budget = max(4.0, budget / 2)
        gap = min(180.0, gap * 2)

    contended = sorted(set(all_queries) - clean_ok)
    record_contended = bool(contended)
    try:
        load_1m = round(os.getloadavg()[0], 1)
    except OSError:
        load_1m = -1.0
    total = round(sum(best.values()), 3)
    all_probes = [p for s in slice_log for p in (s["probe_pre"],
                                                 s["probe_post"])]
    payload = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": best,
        "sf": sf,
        "probe": {
            "protocol": "sliced",
            "clean_sec": PROBE_CLEAN_SEC,
            "load_1m": load_1m,
            "start_sec": all_probes[0] if all_probes else -1.0,
            "end_sec": all_probes[-1] if all_probes else -1.0,
            "max_interleaved": max(all_probes) if all_probes else -1.0,
            "slices": slice_log,
            "contended": contended,
            "record_contended": record_contended,
        },
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({
        "metric": "total_query_sec", "value": total,
        "n_queries": len(best), "n_clean": len(clean_ok),
        "contended": contended, "record_contended": record_contended,
        "out": args.out,
    }), flush=True)
    return 0 if not record_contended else 1


if __name__ == "__main__":
    raise SystemExit(main())
