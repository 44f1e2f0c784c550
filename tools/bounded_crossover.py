#!/usr/bin/env python
"""Driver / distributed crossover of the near-dup dual-path operators.

Regenerates the crossover table in ``meta_frame_spark/operators/bounded.py``:

    python tools/bounded_crossover.py SF01_DIR OUT_DIR 1 4 8 16

SF01_DIR holds the sf0.1 ``documents.parquet`` and ``embeddings.parquet``.
For each replica count R it writes two scale-ups under OUT_DIR, ``dR``
and ``bR``, then times both branches of ``minhash_lsh_dedup`` (the
``dedup_minhash`` query's shape) on each and of
``embedding_near_dup_pairs`` (``emb_near_dup``'s shape) on ``dR``, each
input loaded as the queries load it.

Scale-up: replica k > 0 of each document is, with probability 0.3, a
near-duplicate of it (5% of its tokens replaced), else a disjoint
rewrite (every token suffixed ``_r<k>``); ``bR`` additionally sets 1% of
all documents to one boilerplate text. Replica k of each vector is the
vector plus N(0, 0.05) noise with probability 0.3, else a random sign
and axis permutation of it.

Each line reports the best of two alternating runs per branch in one
warm session (wall seconds, noop sink), with the driver caps and byte
budgets lifted so the driver branch runs at every size; for documents
also the gate's working-set estimate, the driver branch's numpy peak
(``tracemalloc``) and the band pairs summed over bands.
"""

from __future__ import annotations

import os
import sys
import time
import tracemalloc

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BOILERPLATE = "all rights reserved terms of use privacy policy contact us"


def scale_up(src: str, out: str, replicas: int, boilerplate: bool) -> None:
    docs = pq.read_table(f"{src}/documents.parquet")
    emb = pq.read_table(f"{src}/embeddings.parquet")
    rng = np.random.default_rng(replicas)
    ids, texts = [], []
    for k in range(replicas):
        for i, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
            ids.append(i + k * 100_000_000)
            if k and t is not None:
                toks = t.split()
                if rng.random() < 0.3:
                    for p in np.flatnonzero(rng.random(len(toks)) < 0.05):
                        toks[p] = f"x{rng.integers(1 << 30)}"
                else:
                    toks = [w + f"_r{k}" for w in toks]
                t = " ".join(toks)
            texts.append(t)
    if boilerplate:
        for p in rng.choice(len(texts), size=len(texts) // 100, replace=False):
            texts[p] = BOILERPLATE
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
                   f"{out}/documents.parquet")
    E = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
    vecs = [E]
    for _ in range(1, replicas):
        near = rng.random(len(E)) < 0.3
        perm = rng.permutation(E.shape[1])
        signs = rng.choice([-1.0, 1.0], E.shape[1]).astype(np.float32)
        noisy = E + rng.normal(0, 0.05, E.shape).astype(np.float32)
        vecs.append(np.where(near[:, None], noisy, E[:, perm] * signs))
    vid = emb.column("vec_id").to_numpy()
    pq.write_table(pa.table({
        "vec_id": np.concatenate([vid + k * 100_000_000 for k in range(replicas)]),
        "embedding": pa.array(list(np.concatenate(vecs)), pa.list_(pa.float32())),
    }), f"{out}/embeddings.parquet")


def main() -> None:
    src, out, reps = sys.argv[1], sys.argv[2], [int(r) for r in sys.argv[3:]]
    # the checkout's program, for this process and its Python workers
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import functions as F

    from __spark_entry__ import _t
    from meta_frame_spark.operators import bounded, dedup
    from meta_frame_spark.operators.cache import release_tracked_caches
    from meta_frame_spark.operators.similarity import embedding_near_dup_pairs
    from meta_frame_spark.session import get_session

    spark = get_session(app_name="bounded-crossover")
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql("select sum(id) from range(1000)").collect()
    bounded.DRIVER_BYTES = 1 << 40
    dedup.PAIR_CAP = 1 << 40
    lifted = 10**8  # driver_threshold feeds limit(cap + 1), an int

    def docs_op(df, cap):
        return dedup.minhash_lsh_dedup(
            df, threshold=0.5, num_hashes=64, num_bands=32, shingle_n=3,
            restrict_to_candidates=False, driver_threshold=cap,
        )

    def emb_op(df, cap):
        return embedding_near_dup_pairs(
            df, threshold=0.4, planes_per_band=2, num_bands=32, driver_threshold=cap,
        )

    def best_of_two(op, df):
        best = {}
        for order in ((lifted, 0), (0, lifted)):
            for cap in order:
                t0 = time.perf_counter()
                op(df, cap).write.format("noop").mode("overwrite").save()
                best[cap] = min(best.get(cap, float("inf")), time.perf_counter() - t0)
                release_tracked_caches()
        return f"{best[lifted]:.2f} / {best[0]:.2f}"

    for r in reps:
        for tag, boiler in ((f"d{r}", False), (f"b{r}", True)):
            scale_up(src, f"{out}/{tag}", r, boiler)
            df = _t(spark, f"{out}/{tag}", "documents")
            line = f"{tag} documents {df.count()}: {best_of_two(docs_op, df)}"
            h = df.select(dedup._token_hashes("text").alias("h"))
            est = h.select(F.sum(16 * F.coalesce(F.size("h"), F.lit(0))
                                 + 8 * 64 + dedup._DOC_OVERHEAD)).first()[0]
            hashes = h.toArrow().column(0).combine_chunks()
            tracemalloc.start()
            dedup._minhash_pairs_np(hashes, 64, 32, 3, 0.5, 42, dedup.PAIR_CAP)
            peak = tracemalloc.get_traced_memory()[1]
            tracemalloc.stop()
            print(f"{line}, working set {est / 2**20:.1f} / {peak / 2**20:.1f} MiB, "
                  f"summed band pairs {band_pairs(hashes):,}", flush=True)
            if not boiler:
                vecs = _t(spark, f"{out}/{tag}", "embeddings")
                print(f"{tag} vectors {vecs.count()}: {best_of_two(emb_op, vecs)}", flush=True)


def band_pairs(hashes: pa.ListArray, num_hashes: int = 64, num_bands: int = 32) -> int:
    """Pairs sharing a band bucket, summed over bands."""
    from meta_frame_spark.operators import dedup

    A, B = dedup._minhash_coefs(num_hashes, 42)
    off, val = hashes.offsets.to_numpy(), hashes.values.to_numpy()
    docs = np.flatnonzero(~hashes.is_null().to_numpy(zero_copy_only=False))
    sigs = np.stack([dedup._sig_and_set(val[off[d]:off[d + 1]], A, B, 3)[0] for d in docs])
    rows = num_hashes // num_bands
    total = 0
    for b in range(num_bands):
        keys = dedup._spark_hash_rows(sigs[:, b * rows:(b + 1) * rows])
        c = np.unique(keys, return_counts=True)[1].astype(np.int64)
        total += int((c * (c - 1) // 2).sum())
    return total


if __name__ == "__main__":
    main()
