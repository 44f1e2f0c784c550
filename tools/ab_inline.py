#!/usr/bin/env python
"""Same-session alternating A/B of one or more registered queries
under a code variant toggled by monkeypatch (round-15 forensic rig).

Usage:
    python tools/ab_inline.py --queries q1,q2 --variant NAME --reps 3

Variants are small monkeypatches defined in VARIANTS below, each
restoring the r14 shape of one round-15 rewrite so HEAD-vs-r14 can be
timed in ONE Spark session, alternating A (HEAD) and B (variant) in
A-B-B-A order per rep. Same-session alternation controls JIT warmth,
fit caches and the slot; the per-side value is the MIN over reps
(contention only adds time to a CPU-bound noop sink).

Never writes into the repo; prints a table.
"""

import argparse
import json
import os
import sys
import time

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "8")

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--variant", required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from meta_frame_spark.session import get_session

    spark = get_session(app_name="meta_frame_spark-ab-inline")
    spark.sparkContext.setLogLevel("ERROR")

    # bench.py-identical warmups
    from pyspark.sql.functions import pandas_udf

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1_000_000).select(_warm("id").alias("id")).selectExpr(
        "max(id)").collect()
    spark.createDataFrame([(1, "x")], "a long, b string").collect()

    names = [n.strip() for n in args.queries.split(",") if n.strip()]
    qs = entrymod.queries()
    for n in names:
        if n not in qs:
            raise SystemExit(f"unknown query: {n}")

    apply_variant, undo_variant = VARIANTS[args.variant]()

    # warm both code paths once at sf0.001 (JIT/codegen/fit-cache)
    warm_sf = "/root/testdata/sf0.001"
    for n in names:
        try:
            qs[n](spark, warm_sf).write.format("noop").mode("overwrite").save()
        except Exception:
            pass
    apply_variant()
    for n in names:
        try:
            qs[n](spark, warm_sf).write.format("noop").mode("overwrite").save()
        except Exception:
            pass
    undo_variant()
    spark.catalog.clearCache()

    def run_one(n: str) -> float:
        spark.sparkContext.setJobDescription(f"ab:{n}")
        fn = entrymod.queries()[n]  # re-resolve so variants may patch entrymod
        t0 = time.perf_counter()
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        return sec

    a_times: dict[str, list[float]] = {n: [] for n in names}
    b_times: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(args.reps):
        order = ["A", "B", "B", "A"] if rep % 2 == 0 else ["B", "A", "A", "B"]
        for side in order:
            if side == "B":
                apply_variant()
            try:
                for n in names:
                    (b_times if side == "B" else a_times)[n].append(run_one(n))
            finally:
                if side == "B":
                    undo_variant()

    print(f"\nvariant={args.variant} reps={args.reps} (4 passes/rep)")
    print(f"{'query':30s} {'A=HEAD':>8s} {'B=variant':>9s} {'B/A':>6s}")
    for n in names:
        a, b = min(a_times[n]), min(b_times[n])
        print(f"{n:30s} {a:8.3f} {b:9.3f} {b / a:6.3f}")
        print(f"  A runs: {a_times[n]}")
        print(f"  B runs: {b_times[n]}")
    return 0


# ---------------------------------------------------------------------------
# Variants: each returns (apply, undo) closures.
# ---------------------------------------------------------------------------

def _v_ann_summary_r14():
    """Restore the r14 persisted crossJoin _ann_recall_summary."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    new = entrymod._ann_recall_summary

    def old(approx, exact, k, recall_bound):
        approx = approx.persist()
        exact = exact.persist()
        per_q = approx.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ret"))
        stats = per_q.agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.min("n_ret").alias("min_ret"),
            F.max("n_ret").alias("max_ret"),
        )
        hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi").agg(
            F.count(F.lit(1)).cast("double").alias("n_hits")
        )
        total = exact.agg(F.count(F.lit(1)).cast("double").alias("n_exact"))
        return stats.crossJoin(hits).crossJoin(total).select(
            "n_queries",
            F.lit(k).alias("k"),
            (F.col("min_ret") == k).alias("coverage_ok"),
            (F.col("max_ret") == k).alias("no_overreturn"),
            F.round(F.col("n_hits") / F.col("n_exact"), 4).alias("recall_at_k"),
            (F.col("n_hits") / F.col("n_exact") >= recall_bound).alias("recall_ok"),
        )

    def apply():
        entrymod._ann_recall_summary = old

    def undo():
        entrymod._ann_recall_summary = new

    return apply, undo


def _v_dup_driver_r14():
    """Restore the r14 distributed shapes of the dup-family queries:
    keep_best window path, graph census/triangles operators, cluster-
    size groupBy. keep_best/dup_clusters flip via driver_threshold=0
    wrappers; the two query bodies are replaced wholesale."""
    import __spark_entry__ as entrymod
    from meta_frame_spark.operators import dedup as ddp
    from pyspark.sql import functions as F

    new_kb = ddp.keep_best_per_cluster
    new_gs = entrymod.q_dup_graph_stats
    new_cs = entrymod.q_dup_cluster_sizes

    def old_kb(df, pairs, priority, id_col="doc_id", tiebreak=None,
               driver_threshold=100_000):
        # r14 shape: dup_clusters (its own driver gate intact) + window
        from pyspark.sql import Window
        clusters = ddp.dup_clusters(pairs)
        tiebreak = tiebreak or id_col
        member_cols = list(dict.fromkeys([id_col, priority, tiebreak]))
        members = clusters.withColumnRenamed("node", id_col).join(
            df.select(*member_cols), id_col
        )
        w = Window.partitionBy("cluster").orderBy(
            F.col(priority).desc(), F.col(tiebreak).asc()
        )
        losers = (
            members.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") > 1)
            .select(id_col)
        )
        return df.join(losers, id_col, "left_anti")

    def old_gs(spark, sf_dir):
        from meta_frame_spark.operators.dedup import minhash_lsh_dedup
        from meta_frame_spark.operators.graph import degree_stats, triangle_count
        docs = entrymod._t(spark, sf_dir, "documents")
        pairs = minhash_lsh_dedup(
            docs, threshold=0.5, num_hashes=64, num_bands=32, shingle_n=3,
            restrict_to_candidates=False,
        ).persist()
        e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        return degree_stats(e).crossJoin(triangle_count(e))

    def old_cs(spark, sf_dir):
        from meta_frame_spark.operators.dedup import dup_clusters, minhash_lsh_dedup
        docs = entrymod._t(spark, sf_dir, "documents")
        pairs = minhash_lsh_dedup(
            docs, threshold=0.5, num_hashes=64, num_bands=32, shingle_n=3,
            restrict_to_candidates=False,
        )
        clusters = dup_clusters(pairs)
        return clusters.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n_nodes")
        )

    def apply():
        ddp.keep_best_per_cluster = old_kb
        entrymod.q_dup_graph_stats = old_gs
        entrymod.q_dup_cluster_sizes = old_cs

    def undo():
        ddp.keep_best_per_cluster = new_kb
        entrymod.q_dup_graph_stats = new_gs
        entrymod.q_dup_cluster_sizes = new_cs

    return apply, undo


VARIANTS = {
    "ann_summary_r14": _v_ann_summary_r14,
    "dup_driver_r14": _v_dup_driver_r14,
}


if __name__ == "__main__":
    sys.exit(main())
