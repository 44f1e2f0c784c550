"""Benchmark decontamination: n-gram overlap between a training corpus
and a reference (eval/benchmark) set.

Not present in the reference repo (its surface stops at group/agg/join,
SURVEY.md §2 bottom line); this is the standard pre-training hygiene
step — drop training documents that contain verbatim n-grams from the
evaluation benchmarks (the GPT-3 / PaLM 13-gram rule).

Scale design (100 TB corpus vs ~MB-scale benchmark set):

* The reference set is tiny relative to the corpus — its distinct
  n-gram set is broadcast, so the corpus side is a map-only
  explode + broadcast-hash-join probe. No corpus shuffle at all until
  the per-document hit count (one aggregate on doc id).
* Grams cross the join as ``xxhash64`` values (8 bytes), never as
  strings — for 13-grams of web text that is a ~10× wire/memory
  reduction. A 64-bit collision would need ~billions of *distinct
  benchmark* grams to matter (birthday bound on the broadcast side
  only), far beyond any eval suite.
* ``decontaminate`` keeps the full corpus schema via a broadcast-able
  anti-join on the flagged id set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meta_frame_spark.operators.bounded import bounded_collect, row_cap
from meta_frame_spark.operators.dedup import _shingles
from meta_frame_spark.operators.skew import ensure_min_partitions

_GRAM = "_mfs_gram"


def _distinct_gram_hashes(df: DataFrame, text_col: str, n: int, *extra_cols):
    # shingling is CPU-bound per row: fan coarse inputs out to all
    # cores first (no-op on properly partitioned inputs)
    grams = F.array_distinct(_shingles(text_col, n))
    return ensure_min_partitions(df).select(
        *extra_cols, F.explode(grams).alias(_GRAM)
    ).withColumn(_GRAM, F.xxhash64(_GRAM))


def ngram_overlap(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    ref_text_col: str | None = None,
) -> DataFrame:
    """Per-corpus-document count of distinct word ``n``-grams that also
    occur anywhere in ``reference`` — ``(id_col, n_hit_ngrams)``, only
    documents with at least one hit.

    Tokenization matches the dedup family (lowercase, whitespace split,
    docs shorter than ``n`` tokens contribute one partial gram), so the
    contamination and near-dup passes agree on gram identity.
    """
    ref_grams = _distinct_gram_hashes(
        reference, ref_text_col or text_col, n
    ).distinct()
    corpus_grams = _distinct_gram_hashes(corpus, text_col, n, id_col)
    return (
        corpus_grams.join(F.broadcast(ref_grams), _GRAM)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_ngrams"))
    )


def decontaminate(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_hits: int = 1,
    ref_text_col: str | None = None,
) -> DataFrame:
    """Corpus rows (full schema) whose overlap with ``reference`` is
    below ``min_hits`` contaminating n-grams — the cleaned training set.

    The flagged-id set is far smaller than the corpus, so the anti-join
    broadcasts; the corpus is never shuffled.
    """
    flagged = ngram_overlap(
        corpus, reference, text_col, id_col, n, ref_text_col
    ).filter(F.col("n_hit_ngrams") >= min_hits)
    return corpus.join(
        F.broadcast(flagged.select(id_col)), id_col, "left_anti"
    )


def novelty_score(
    corpus: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    ref_text_col: str | None = None,
    out_col: str = "novelty",
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus:
    ``(id_col, n_distinct_ngrams, out_col)`` where ``out_col`` is the
    fraction of the document's DISTINCT n-grams that occur NOWHERE in
    ``reference`` — the memorization/novelty signal of data-quality
    audits (1.0 = no gram shared with the reference, 0.0 = every gram
    already seen). The complement of :func:`ngram_overlap`'s
    hit-count view, per-doc-normalized and including zero-hit docs.

    Tokenization matches the dedup/decontamination family, so all
    three passes agree on gram identity. Scale: same shape as
    ``ngram_overlap`` — the reference's distinct grams broadcast as
    8-byte hashes, the corpus side is one map-only explode +
    broadcast-probe, and the only corpus shuffle is the per-doc
    aggregate (collapses map-side to one row per doc).
    """
    ref_grams = (
        _distinct_gram_hashes(reference, ref_text_col or text_col, n)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus_grams = _distinct_gram_hashes(corpus, text_col, n, id_col)
    return (
        corpus_grams.join(F.broadcast(ref_grams), _GRAM, "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_distinct_ngrams"),
            (
                F.lit(1.0)
                - F.coalesce(F.sum("_hit"), F.lit(0))
                / F.count(F.lit(1))
            ).alias(out_col),
        )
    )


def cross_split_leakage(
    pairs: DataFrame,
    splits: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Train/test leakage report: roll verified near-dup pairs up by
    the split assignment of each endpoint — ``(split_a, split_b,
    n_pairs)`` with the pair canonicalized ``split_a <= split_b``. Any
    nonzero row pairing different splits means near-duplicate content
    crosses the split boundary (the leakage that inflates eval
    numbers); same-split rows are benign in-split duplication.

    Scale: two equi-joins of the (small) verified pair list against the
    (id, split) projection — Catalyst broadcasts the pair side when it
    fits — then an aggregate over at most |splits|^2 groups.
    """
    a = splits.select(F.col(id_col).alias("id_a"), F.col(split_col).alias("_sa"))
    b = splits.select(F.col(id_col).alias("id_b"), F.col(split_col).alias("_sb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def embedding_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes_per_band: int = 6,
    num_bands: int = 32,
    seed: int = 42,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Per-corpus-row contamination report against an eval set in
    EMBEDDING space (VERDICT r10 "Next round" #8): ``(id_col,
    n_bench_hits, max_cosine)`` for every corpus vector whose cosine
    vs ANY benchmark vector reaches ``threshold`` — the semantic
    complement of the verbatim-gram :func:`decontaminate` (a
    paraphrased eval question shares no 13-gram but sits at
    cosine ~1 of its source).

    Dual path (see :mod:`.bounded`): the benchmark decides the arm.

    Exact arm (benchmark row count <= ``driver_threshold`` — the common
    case; an eval set is small by definition; default: as many as fit
    ``bounded.DRIVER_BYTES`` at 32 bytes a value, 32,768 vectors at dim
    64): one bounded Arrow collect of the benchmark, wrong-length
    vectors nulled JVM-side; the normalized benchmark matrix, built
    from the flattened column, ships to every task as a closure
    (nb x dim float64, 16 MiB at the default cap) and ONE Arrow
    ``mapInPandas`` over the corpus scores each batch against ALL
    benchmark vectors in BLAS matmuls, blocked over the batch rows so
    one block holds at most ``similarity._GRAM_BLOCK`` similarities
    (8 MiB; unblocked, one 10,000-row Arrow batch against the default
    cap took 5.6 GB with its masked copy) — recall exactly 1.0 by
    construction, zero joins, zero shuffles, O(N·nb·dim) flops that
    BLAS sustains at memory bandwidth. This replaced the SRP-LSH
    candidate join on the 6-plane/32-band default after measurement:
    with 64 buckets per band a random corpus row collides with
    ~nb/64 benchmark rows in EVERY band, so expected candidate pairs
    are ~N·nb/2 — HALF of all-pairs — and each collision paid an
    interpreted ``zip_with``+``aggregate`` dot (HOFs are
    CodegenFallback), strictly more work than one exact matmul.

    LSH arm (benchmark larger than ``driver_threshold``, or
    ``driver_threshold=0``): vectors are
    NORMALIZED map-side FIRST (SRP sign bits are invariant under
    positive scaling, so buckets are unchanged and each candidate
    pair costs ONE dot instead of a dot plus two norms), then both
    sides bucketize with the SAME SRP hyperplanes
    (similarity._srp_planes — one Arrow matmul per side); candidates
    come from an equi-join on (band, bucket) with the benchmark side
    BROADCAST, so the corpus never shuffles. The single exchange is
    the per-corpus-id aggregate, bounded by candidate count. The
    6-plane default is the high-threshold trade (the 0.4-threshold
    near-dup query uses 2): a true pair AT cos 0.9 bands with
    p = (1 - acos(.9)/pi)^6 ~ 0.395, miss prob (1-.395)^32 ~ 1e-7.
    Exact copies of a benchmark vector collide in EVERY band
    regardless, so planted contaminants cannot be missed. Zero-norm
    vectors drop at normalization on BOTH arms (their cosine is 0 by
    convention — below any sane threshold).

    Two exact-arm contract notes (ADVICE r14): (1) the arm is EAGER —
    the bounded benchmark collect runs at CALL time to pick the
    arm and freeze the benchmark matrix, so the benchmark plan
    executes even if the returned report is never consumed, and the
    report scores against benchmark data as of the call (the LSH arm
    stays fully lazy). (2) ``n_bench_hits`` counts benchmark ROWS at
    or above ``threshold`` in the exact arm but DISTINCT benchmark ids
    in the LSH arm — identical when benchmark ids are unique (the
    normal eval-set shape); a benchmark with duplicated ids or
    repeated vectors counts duplicates only in the exact arm."""
    from meta_frame_spark.operators.similarity import (
        _GRAM_BLOCK, _bucketize, _srp_planes,
    )

    def _unit(df: DataFrame) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        nrm = F.sqrt(F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0),
            lambda acc, x: acc + x,
        ))
        return df.select(
            id_col,
            F.when(
                nrm > 0, F.transform(v, lambda x: x / nrm)
            ).alias(vec_col),
        ).filter(F.col(vec_col).isNotNull())

    if driver_threshold is None:
        # the float32 collected copy, the float64 copy, its normalized
        # copy and the pickled copy shipped to tasks: 28 bytes a value
        driver_threshold = row_cap(32 * dim)
    # wrong-length vectors match nothing: null them JVM-side so every
    # collected row is at most ``dim`` floats wide
    fixed = F.when(F.size(vec_col) == dim, F.col(vec_col)).alias(vec_col)
    local = bounded_collect(
        benchmark.select(id_col, fixed), driver_threshold,
        "embedding_contamination",
    )
    if local is not None:
        vecs = local.column(1).combine_chunks()
        B = (
            pc.drop_null(vecs).flatten()
            .to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)
        )
        nrm = np.linalg.norm(B, axis=1)
        bmat_t = (B[nrm > 0] / nrm[nrm > 0, None]).T  # (dim, nb)
        step = max(1, _GRAM_BLOCK // max(bmat_t.shape[1], 1))

        def _score(batches):
            for pdf in batches:
                vs = pdf[vec_col]
                valid = np.flatnonzero(vs.notna().to_numpy())
                if not len(valid) or bmat_t.shape[1] == 0:
                    continue
                X = np.stack(vs.iloc[valid].to_list()).astype(np.float64)
                nrm = np.linalg.norm(X, axis=1)
                ok = nrm > 0
                if not ok.any():
                    continue
                X = X[ok] / nrm[ok, None]
                nh = np.empty(len(X), dtype=np.int64)
                mc = np.empty(len(X))
                for lo in range(0, len(X), step):
                    S = X[lo:lo + step] @ bmat_t  # (<= step, nb)
                    nh[lo:lo + step] = (S >= threshold).sum(1)
                    # a row with a hit has its max among its hits; fmax
                    # skips the NaN an infinite component leaves
                    mc[lo:lo + step] = np.fmax.reduce(S, axis=1)
                any_hit = nh > 0
                if not any_hit.any():
                    continue
                idx = valid[ok][any_hit]
                yield pd.DataFrame({
                    "_id": pdf[id_col].iloc[idx].values,
                    "n_bench_hits": nh[any_hit],
                    "_mc": mc[any_hit],
                })

        id_type = corpus.schema[id_col].dataType.simpleString()
        return (
            corpus.select(id_col, fixed)
            .mapInPandas(
                _score,
                f"_id {id_type}, n_bench_hits long not null, _mc double",
            )
            .select(
                F.col("_id").alias(id_col),
                "n_bench_hits",
                F.round("_mc", 4).alias("max_cosine"),
            )
        )

    planes = _srp_planes(dim, planes_per_band * num_bands, seed)
    cb = _bucketize(_unit(corpus), id_col, vec_col, planes,
                    planes_per_band, num_bands)
    bb = _bucketize(_unit(benchmark), id_col, vec_col, planes,
                    planes_per_band, num_bands).select(
        "band", "bucket", F.col("_id").alias("_bid"), F.col("v").alias("_bv")
    )
    cos = F.aggregate(
        F.zip_with("v", "_bv", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    hits = (
        cb.join(F.broadcast(bb), ["band", "bucket"])
        .select("_id", "_bid", cos.alias("_cos"))
        .filter(F.col("_cos") >= threshold)
    )
    # a pair colliding in several bands counts once (count_distinct);
    # max over duplicates is the same value either way
    return (
        hits.groupBy("_id")
        .agg(
            F.count_distinct("_bid").alias("n_bench_hits"),
            F.round(F.max("_cos"), 4).alias("max_cosine"),
        )
        .select(F.col("_id").alias(id_col), "n_bench_hits", "max_cosine")
    )


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    **kw,
) -> DataFrame:
    """Corpus rows NOT embedding-contaminated vs ``benchmark`` — the
    gate form of :func:`embedding_contamination` (same kwargs), full
    schema preserved via a left-anti join on the flagged id set (the
    :func:`decontaminate` pattern)."""
    flagged = embedding_contamination(
        corpus, benchmark, threshold=threshold, id_col=id_col, **kw
    ).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")
