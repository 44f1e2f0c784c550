#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: runs every entry in
__spark_entry__.queries() against its oracle_sql() twin on DuckDB and
compares row count, column names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
(with query names given, only those entries run)

python tools/check_correctness.py --staleness
    Driver-evidence freshness gate over the CORRECTNESS_r*.json records:
    prints each registered query's latest green round, the next driver
    window (the first WINDOW_SLOTS queries() entries, stalest evidence first) and
    the rotation's capacity, and fails when a query's latest green round
    is more than MAX_STALE_ROUNDS behind the newest, or when more rows
    fall due within the next k rounds than k windows can re-check.
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
#: round means the rotation fell behind.
MAX_STALE_ROUNDS = 4


def staleness_report(repo_dir: str = ROOT) -> dict:
    """Each registered query's latest green round from the
    CORRECTNESS_r*.json records in ``repo_dir``, the next driver window,
    and what the gate checks. ``due[k-1]`` counts the rows that must be
    re-run within the next k rounds to stay within MAX_STALE_ROUNDS:
    never-checked rows plus rows at staleness >= MAX_STALE_ROUNDS - k + 1;
    ``over_capacity`` lists each k where that exceeds k windows. Pure
    file parsing, no Spark session."""
    import __spark_entry__ as entrymod

    slots = entrymod.WINDOW_SLOTS
    newest, latest = entrymod._latest_green(repo_dir)
    order = entrymod._driver_order(entrymod._all_queries(), latest)
    stale = [newest - latest[q] for q in order if q in latest]
    never = len(order) - len(stale)
    due = [
        never + sum(s >= MAX_STALE_ROUNDS - k + 1 for s in stale)
        for k in range(1, MAX_STALE_ROUNDS + 1)
    ]
    return {
        "newest_round": newest,
        "latest": latest,
        "window": order[:slots],
        "too_stale": sorted(
            q for q in order if q in latest and newest - latest[q] > MAX_STALE_ROUNDS
        ),
        "due": due,
        "over_capacity": [k for k, n in enumerate(due, 1) if n > slots * k],
    }


def staleness_main() -> int:
    from __spark_entry__ import WINDOW_SLOTS

    rep = staleness_report()
    hist: dict[int, int] = {}
    for r in rep["latest"].values():
        hist[r] = hist.get(r, 0) + 1
    print(f"newest recorded round: r{rep['newest_round']}")
    print("latest-green histogram:", sorted(hist.items()))
    print("next window:", " ".join(rep["window"]))
    print("due within k rounds / capacity:", "  ".join(
        f"k={k}: {n}/{WINDOW_SLOTS * k}" for k, n in enumerate(rep["due"], 1)
    ))
    rc = 0
    if rep["too_stale"]:
        print(f"TOO STALE (> {MAX_STALE_ROUNDS} rounds): {rep['too_stale']}")
        rc = 1
    if rep["over_capacity"]:
        print(f"OVER CAPACITY at k = {rep['over_capacity']}")
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
