#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: runs every entry in
__spark_entry__.queries() against its oracle_sql() twin on DuckDB and
compares row count, column names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
(with query names given, only those entries run)

python tools/check_correctness.py --staleness
    Driver-evidence freshness gate (VERDICT r12 #2): parses every
    CORRECTNESS_r*.json the judge reads, computes each registered
    query's latest green driver round, and fails when (a) any query
    with at least one driver row is staler than MAX_STALE_ROUNDS
    behind the newest round on disk, or (b) the stalest rows are not
    all covered by DRIVER_WINDOW ∪ NEXT_WINDOW_QUEUE (i.e. the
    rotation plan would let freshness decay), or (c) a registered
    query has no driver row yet AND no DRIVER_WINDOW slot (an
    orphaned new op). Run by tests/test_cli.py in-suite, pinned to
    the same files the judge reads.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

#: the checkout this tool belongs to; its program is the one imported
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if v == int(v) else repr(round(v, 6))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    return str(v)


def table_hash(rows, colnames) -> tuple[int, str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


#: a green row older than this many rounds behind the newest recorded
#: round means the rotation fell behind the 50×~4-round cadence that
#: keeps 217+ queries covered (50 slots/round * 5 rounds >= registry).
MAX_STALE_ROUNDS = 4


def staleness_report(repo_dir: str = ROOT) -> dict:
    """Compute each registered query's latest green driver round from
    the CORRECTNESS_r*.json records, plus the violation lists the
    gate checks. Pure file parsing — no Spark session."""
    import glob
    import json
    import re

    import __spark_entry__ as entrymod

    latest: dict[str, int] = {}
    rounds: list[int] = []
    for f in sorted(glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        rounds.append(rnd)
        for q, row in json.load(open(f)).items():
            # hash_match must be POSITIVELY true: a malformed/partial
            # record without hash evidence must not refresh freshness
            # (every green driver row to date carries hash_match=True,
            # so this is strictness, not a behavior change)
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is True
                and not row.get("err")
            )
            if ok:
                latest[q] = max(latest.get(q, 0), rnd)
    newest = max(rounds) if rounds else 0
    registered = list(entrymod.queries())
    window = set(entrymod.DRIVER_WINDOW)
    planned = window | set(entrymod.NEXT_WINDOW_QUEUE)
    too_stale = sorted(
        q for q in registered
        if q in latest and newest - latest[q] > MAX_STALE_ROUNDS
    )
    # every row at the decay edge (would violate next round if not
    # re-run) must already be in the rotation plan
    edge = sorted(
        q for q in registered
        if q in latest and newest - latest[q] >= MAX_STALE_ROUNDS - 1
    )
    unplanned_edge = sorted(set(edge) - planned)
    orphaned_new = sorted(
        q for q in registered if q not in latest and q not in window
    )
    return {
        "newest_round": newest,
        "latest": latest,
        "too_stale": too_stale,
        "unplanned_edge": unplanned_edge,
        "orphaned_new": orphaned_new,
    }


def staleness_main() -> int:
    rep = staleness_report()
    newest = rep["newest_round"]
    hist: dict[int, int] = {}
    for q, r in rep["latest"].items():
        hist[r] = hist.get(r, 0) + 1
    print(f"newest recorded round: r{newest}")
    print("latest-green histogram:", sorted(hist.items()))
    rc = 0
    if rep["too_stale"]:
        print(f"TOO STALE (> {MAX_STALE_ROUNDS} rounds): {rep['too_stale']}")
        rc = 1
    if rep["unplanned_edge"]:
        print(
            "DECAY-EDGE rows missing from DRIVER_WINDOW ∪ "
            f"NEXT_WINDOW_QUEUE: {rep['unplanned_edge']}"
        )
        rc = 1
    if rep["orphaned_new"]:
        print(
            "ORPHANED new queries (no driver row, no window slot): "
            f"{rep['orphaned_new']}"
        )
        rc = 1
    print("staleness gate:", "FAIL" if rc else "OK")
    return rc


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--staleness":
        return staleness_main()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from meta_frame_spark.session import get_session

    spark = get_session(app_name="check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if len(sys.argv) > 2:
        only = set(sys.argv[2:])
        unknown = only - set(qs)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    failures = []
    for name, fn in qs.items():
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        sn, sh = table_hash(srows, scols)
        if name not in oracles:
            print(f"{name:20s} rows={sn:<8d} (no oracle — rows-only check)")
            continue
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        on, oh = table_hash(orows, ocols)
        ok_cols = sorted(scols) == sorted(ocols)
        ok = (sn == on) and (sh == oh) and ok_cols
        status = "OK " if ok else "FAIL"
        print(f"{name:20s} {status} spark={sn} oracle={on} cols_match={ok_cols} hash {sh}/{oh}")
        if not ok:
            failures.append(name)
            if not ok_cols:
                print(f"   spark cols:  {sorted(scols)}\n   oracle cols: {sorted(ocols)}")
            else:
                sset = set("\x1f".join(norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows)
                oset = set("\x1f".join(norm_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows)
                only_s = list(sset - oset)[:3]
                only_o = list(oset - sset)[:3]
                print(f"   only-in-spark:  {only_s}\n   only-in-oracle: {only_o}")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries match", f"FAILURES: {failures}" if failures else "")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
