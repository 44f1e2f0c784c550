#!/usr/bin/env python
"""Benchmark harness: runs every __spark_entry__.queries() entry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1, "cpus": 4, ...}

Each query is forced with a noop-sink write (see run_one below and
BASELINE.md's forcing note). The module-level functions are the
measurement core that tools/bench_sliced.py and tools/bench_ab.py
import.
"""

from __future__ import annotations

import json
import os
import sys
import time

# Cap BLAS pools BEFORE numpy loads (pandas imports it): the
# driver-side quantizer fits run batched gemms while the local[32]
# JVM saturates the same cores, and an unbounded OpenBLAS pool
# oversubscribes into 5-10x wall-time variance on those fits
# (measured: the same _joint_lloyd call 0.6s alone vs 7.1s beside a
# busy JVM). Eight BLAS threads keep the fits sub-second and stable;
# UDF worker processes inherit the cap through the JVM's environment.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "8")

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


#: Queries pre-run at sf0.001, untimed, before the timed loop (bench.py
#: and tools/bench_sliced.py): each owns plan shapes no earlier query
#: compiles, and the sf0.001 run generates identical code, so the timed
#: run measures the engine, not first-call codegen/JIT.
#:
#: * ann_topk_ivfpq: the structurally slowest query (multi-stage probe
#:   join + two UDF families) runs alphabetically BEFORE ann_topk_pq, so
#:   it cannot inherit a warm fit cache (VERDICT r6 "Next round" #3).
#: * event_pagerank: the first pagerank call's shapes; the sf0.001
#:   transition graph is the same 5-node graph (VERDICT r6 #3).
#: * quality_classifier: its literal-array logit and map-only scoring
#:   shapes (VERDICT r6 #3).
#: * stream_rouge: the streaming micro-batch harness compiles its own
#:   codegen for the rouge clip HOFs, not shared with rouge_eval's batch
#:   shape; cold first call 10.8s at sf0.1 and 10.1s at sf0.001, warmed
#:   sf0.1 2.2s / 1.8s (receipts in OPTIMIZATION_r14.md).
WARM_QUERIES = (
    "bm25_search", "dedup_minhash", "ann_topk_ivfpq", "event_pagerank",
    "quality_classifier", "stream_rouge",
)
WARM_SF = "/root/testdata/sf0.001"

#: A probe over DIRTY_RATIO x the clean value marks its bracket dirty
#: (the r7 d*/e* contended block sat under a 1.73x probe — 2x missed
#: it; queries amplify contention more than the pure-codegen probe).
DIRTY_RATIO = 1.5


def warn_record() -> None:
    """Warn (stderr, non-fatal) if the working-tree BENCH_FULL.json is
    a contended record that must not be committed."""
    try:
        from tools.check_bench_record import warn

        warn()
    except Exception:
        pass


def sf_of(sf_dir: str) -> float:
    """Scale factor a data directory names (``.../sf0.1`` -> 0.1)."""
    return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0


def prewarm(spark, queries: dict, names) -> None:
    """Run ``names`` once at sf0.001, untimed: codegen is cached per
    generated source and identical operators and literals generate
    identical code, so the timed runs measure the engine, not janino."""
    if not os.path.isdir(WARM_SF):
        return
    for name in names:
        try:
            queries[name](spark, WARM_SF).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # warm-up must never fail the bench
    spark.catalog.clearCache()


def warm_session(spark, queries: dict) -> None:
    """Warm the JVM/codegen path, the Python UDF workers and the
    local-relation path (~1.5s one-off) once, then pre-run
    WARM_QUERIES (the first regexp_extract_all alone loads ~3.4s of
    classes: bm25_search read 3.4s in the r3 record, 0.95s warm)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1_000_000).select(_warm("id").alias("id")).selectExpr("max(id)").collect()
    spark.createDataFrame([(1, "x")], "a long, b string").collect()
    prewarm(spark, queries, WARM_QUERIES)


def probe(spark) -> float:
    """Seconds of a fixed CPU-bound job (32-way parallel codegen sum)
    on the cores the queries use: a stolen slot reads slow. Call it once
    untimed first, so timed probes measure execution, not codegen."""
    t0 = time.perf_counter()
    spark.range(200_000_000, numPartitions=32).selectExpr(
        "count(if(id % 7 = 0, 1, null)) as n"
    ).collect()
    return round(time.perf_counter() - t0, 3)


def run_one(spark, fn, sf_dir: str) -> float:
    from meta_frame_spark.operators import pq

    t0 = time.perf_counter()
    # noop sink: evaluates EVERY column of the full plan (count()
    # would let Catalyst prune map-only projection work entirely)
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sec = round(time.perf_counter() - t0, 3)
    # operators persist() self-join inputs; drop them so cached
    # blocks don't accumulate across the suite. Drop the PQ fit memo
    # too: no query's time may depend on which ANN query ran before it
    spark.catalog.clearCache()
    pq.clear_fit_cache()
    return sec


def merge_min(into: dict[str, float], new: dict[str, float]) -> None:
    """Keep each query's minimum. External contention can only ADD time
    to a CPU-bound noop sink, so every attempt is an upper bound and the
    min over attempts of the same code is sound."""
    for k, v in new.items():
        if k not in into or v < into[k]:
            into[k] = v


def load_1m() -> float:
    try:
        return round(os.getloadavg()[0], 1)
    except OSError:
        return -1.0


def load_record(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def same_cpus(rec: dict | None, cpus: int | None) -> bool:
    """Whether ``rec`` ran on ``cpus`` task slots. Seconds do not carry
    across core counts, so a record without ``cpus`` matches no run."""
    return rec is not None and cpus is not None and rec.get("cpus") == cpus


def reference(
    incumbent: dict | None, sf: float, cpus: int | None
) -> tuple[dict[str, float], float | None]:
    """What the incumbent record lends a run: its per-query seconds
    (same sf, uncontended) and its ``probe.clean_sec`` — nothing when
    it ran on other cpus."""
    if not same_cpus(incumbent, cpus):
        return {}, None
    rec_probe = incumbent.get("probe", {})
    if abs(incumbent.get("sf", -1.0) - sf) > 1e-9 or rec_probe.get("record_contended", True):
        return {}, rec_probe.get("clean_sec")
    return dict(incumbent["queries"]), rec_probe.get("clean_sec")


def clean_sec(probe_secs, lent_clean: float | None = None) -> float:
    """The clean probe value: the fastest probe this run timed, or the
    incumbent's when faster. Contention only adds time, so the minimum
    is the tightest bound on an unloaded probe, on any core count; the
    incumbent's value still flags a run throttled from end to end."""
    return min([*probe_secs, *([lent_clean] if lent_clean else [])], default=-1.0)


def bracket_clean(pre: float, post: float, clean: float) -> bool:
    return max(pre, post) <= DIRTY_RATIO * clean


def dirty_windows(probes: list[list], clean: float) -> list[int]:
    """Indices of the queries between two ``[query_index, probe_sec]``
    checkpoints of which either is dirty."""
    return sorted({
        idx
        for (a_idx, a_sec), (b_idx, b_sec) in zip(probes, probes[1:])
        if not bracket_clean(a_sec, b_sec, clean)
        for idx in range(a_idx, b_idx)
    })


def may_promote(payload: dict, incumbent: dict | None) -> bool:
    """A run replaces BENCH_FULL.json only at sf0.1, uncontended, and on
    the incumbent's ``cpus`` (or with no incumbent): a committed record
    without ``cpus`` is never replaced automatically."""
    return (
        abs(payload["sf"] - 0.1) < 1e-9
        and not payload["probe"]["record_contended"]
        and (incumbent is None or same_cpus(incumbent, payload["cpus"]))
    )


def main() -> None:
    warn_record()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_of(sf_dir)

    import __spark_entry__ as entrymod
    from meta_frame_spark.session import get_session, local_task_slots

    spark = get_session(app_name="meta_frame_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = local_task_slots(spark)
    # Canonical (sorted) execution order, decoupled from the queries()
    # dict order, which changes with the correctness window: a fixed
    # name order keeps the first-compile/JIT warm-up attribution stable
    # across rounds.
    all_queries = sorted(entrymod.queries().items())
    by_name = dict(all_queries)
    warm_session(spark, by_name)

    # Interleaved probes (VERDICT r6 "Next round" #2): a start/end-only
    # probe cannot see mid-run contended windows, so a probe every
    # PROBE_EVERY queries brackets every query.
    PROBE_EVERY = 8
    probe(spark)  # untimed: compile the probe plan
    probes: list[list] = [[0, probe(spark)]]  # [query_index, probe_sec]
    per_query: dict[str, float] = {}
    for i, (name, fn) in enumerate(all_queries):
        per_query[name] = run_one(spark, fn, sf_dir)
        if (i + 1) % PROBE_EVERY == 0 and i + 1 < len(all_queries):
            probes.append([i + 1, probe(spark)])
    probes.append([len(all_queries), probe(spark)])
    probe_start, probe_end = probes[0][1], probes[-1][1]

    # Queries in a dirty window are suspects; the clean value is
    # derived from this run's probes (clean_sec), so it holds on any
    # core count. Self-healing, in order (BASELINE.md, two-record
    # protocol):
    #
    # 1. REFERENCE RESOLUTION (free): a dirty-bracketed value at or
    #    below the incumbent clean record's value (same sf and cpus)
    #    is an upper bound that already beats the reference.
    # 2. ADAPTIVE RERUNS (VERDICT r14 #2): every other suspect is
    #    rerun, unknown-reference and worst-deviation first, under a
    #    wall-clock budget, until 8 consecutive probes are dirty. Each
    #    attempt is probe-bracketed; the recorded value is the MIN over
    #    attempts (a slower rerun never displaces a faster first
    #    value), and retries stop once one lands clean-bracketed at or
    #    below the first. A name no attempt got a clean bracket for
    #    goes in probe.contended: a contended upper bound.
    # 3. The record is contended only if more than MAX_CONTENDED
    #    entries stay unhealed.
    incumbent = load_record(os.path.join(HERE, "BENCH_FULL.json"))
    ref, lent_clean = reference(incumbent, sf, cpus)
    clean = clean_sec([sec for _, sec in probes], lent_clean)
    suspects = [all_queries[i][0] for i in dirty_windows(probes, clean)]
    RERUN_BUDGET_SEC = 120.0  # hard cap on total rerun wall time
    MAX_CONTENDED = 10
    resolved_ref = [n for n in suspects if n in ref and per_query[n] <= ref[n]]
    pending = sorted(
        (n for n in suspects if n not in resolved_ref),
        key=lambda n: (
            -(per_query[n] / ref[n]) if n in ref else float("-inf"),
            -per_query[n],
        ),
    )
    reran: dict[str, list[float]] = {}
    contended: list[str] = []
    pre = probe_end  # last measured probe state
    rerun_t0 = time.perf_counter()
    consecutive_dirty = 0
    for name in pending:
        if time.perf_counter() - rerun_t0 > RERUN_BUDGET_SEC or consecutive_dirty >= 8:
            contended.append(name)  # budget/slot exhausted, unhealed
            continue
        first = per_query[name]
        attempts = []
        got_clean = False
        for _ in range(2):
            val = run_one(spark, by_name[name], sf_dir)
            post = probe(spark)
            attempts.append(val)
            ok = bracket_clean(pre, post, clean)
            pre = post
            consecutive_dirty = 0 if ok else consecutive_dirty + 1
            got_clean = got_clean or ok
            if ok and val <= first:
                break
        per_query[name] = min([first, *attempts])
        # an attempt at/below the clean reference resolves like rule 1
        if not got_clean and not (name in ref and per_query[name] <= ref[name]):
            contended.append(name)
        reran[name] = [first, *attempts]
    rerun_sec = round(time.perf_counter() - rerun_t0, 3)
    record_contended = len(contended) > MAX_CONTENDED
    load = load_1m()
    total = round(sum(per_query.values()), 3)
    payload = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "cpus": cpus,
        "probe": {
            "start_sec": probe_start,
            "end_sec": probe_end,
            "clean_sec": clean,
            "load_1m": load,
            "interleaved": probes,
            # per-suspect [first, rerun...]
            "suspect_reruns": reran,
            "rerun_sec": rerun_sec,
            "resolved_by_reference": resolved_ref,
            "contended": contended,
            "record_contended": record_contended,
        },
    }
    # Full-precision record: ALWAYS written to BENCH_LAST.json
    # (gitignored scratch); promoted to the canonical BENCH_FULL.json
    # only when may_promote allows it (VERDICT r10 "Next round" #1:
    # contended runs used to overwrite the clean record);
    # tools/check_bench_record.py is the backstop check.
    with open(os.path.join(HERE, "BENCH_LAST.json"), "w") as f:
        json.dump(payload, f, indent=1)
    if may_promote(payload, incumbent):
        with open(os.path.join(HERE, "BENCH_FULL.json"), "w") as f:
            json.dump(payload, f, indent=1)
    else:
        print(
            f"[bench] record kept in BENCH_LAST.json only (sf={sf}, "
            f"record_contended={record_contended}, cpus={cpus}, incumbent "
            f"cpus={(incumbent or {}).get('cpus')}); BENCH_FULL.json untouched",
            file=sys.stderr,
        )
    # The driver captures only the LAST 2000 chars of stdout and parses
    # the final line from that window — a line longer than ~2000 chars is
    # recorded truncated and unparseable (BENCH_r01..r03 all have
    # parsed=null for this reason). Emit the most precise compact line
    # that fits, degrading per-query precision 3dp -> 2dp -> 1dp; if the
    # registry has outgrown even that, drop the FASTEST non-baseline
    # queries from the line (never a baseline-tracked or slow query —
    # those are what BASELINE.md comparisons read) and say how many.
    # BENCH_FULL.json always carries the complete 3dp set.
    baseline_tracked = {
        "a_cascade", "b_join_tree", "bp_nested", "corpus_clean",
        "ann_topk", "ann_topk_lsh", "ann_topk_ivf", "dedup_minhash",
        "bm25_search", "dedup_simhash", "emb_near_dup",
    }

    # stdout line carries a probe SUMMARY (the checkpoint list and
    # rerun pairs live in the file records), enough to judge noise
    # without blowing the 2000-char cap
    probe_line = {
        "start_sec": probe_start,
        "end_sec": probe_end,
        "clean_sec": clean,
        "load_1m": load,
        "max_interleaved": max(p[1] for p in probes),
        "n_suspect": len(suspects),
        "n_reran": len(reran),
        "n_resolved_ref": len(resolved_ref),
        "n_contended": len(contended),
        "contended": contended[:MAX_CONTENDED],
        "record_contended": record_contended,
    }

    def emit(q: dict[str, float], omitted: int) -> str:
        body = {
            **payload, "value": round(total, 2), "queries": q,
            "probe": probe_line,
        }
        if omitted:
            body["omitted_fast_queries"] = omitted
        return json.dumps(body, separators=(",", ":"))

    line = ""
    for prec in (3, 2, 1):
        q = {k: round(v, prec) for k, v in per_query.items()}
        line = emit(q, 0)
        if len(line) <= 1950:
            break
    if len(line) > 1950:
        by_speed = sorted(
            per_query, key=lambda k: (k in baseline_tracked, per_query[k])
        )
        q = {k: round(v, 1) for k, v in per_query.items()}
        dropped = 0
        for name in by_speed:
            if len(line) <= 1950 or name in baseline_tracked:
                break
            del q[name]
            dropped += 1
            line = emit(q, dropped)
    spark.stop()
    print(line)


if __name__ == "__main__":
    main()
