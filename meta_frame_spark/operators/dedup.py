"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its surface stops at group/agg/join —
SURVEY.md §2 bottom line); these are the north-star extensions from
SURVEY.md §7.1 step 6b, each designed scale-first:

* exact_dedup        — one hash-shuffle groupBy; no window, no sort.
* minhash_lsh_dedup  — shingle -> minhash -> band-bucket -> self-join
                       inside buckets only (candidate pairs, not n²).
* simhash_dedup      — 64-bit simhash, dup iff identical hash
                       (optionally banded for near-dup at distance 1).
* ngram_jaccard_pairs — exact Jaccard verification over candidate
                       pairs produced by LSH (never over the cross
                       product).

String hashing stays JVM-side (codegen'd xxhash64); the dense
signature arithmetic (shingles × permutations, token-hash bit votes)
runs in Arrow-batched vectorized pandas UDFs — measured ~10-20× faster
than interpreted higher-order-function folds at identical semantics.

``minhash_lsh_dedup`` and ``dup_clusters`` are dual-path
(:mod:`.bounded`): at or below ``driver_threshold`` rows they collect
through ``bounded_collect`` and run the same algorithm on the
driver (numpy signatures, band grouping and Jaccard; union-find), with
no Python worker and no shuffle; above it the distributed plans run
unchanged. Tests pin both branches equal.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meta_frame_spark.operators.bounded import bounded_collect, gate_pairs, row_cap, union_find
from meta_frame_spark.operators.bounded import log as bounded_log
from meta_frame_spark.operators.cache import track
from meta_frame_spark.operators.skew import ensure_min_partitions


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    keep: str = "min",
) -> DataFrame:
    """Exact duplicate groups: one row per distinct ``key_cols`` value,
    carrying the kept ``id_col`` (min by default — deterministic) and the
    group size ``n_copies``.

    Scale: a single shuffle on the dedup key. For very wide keys (full
    document text at 100 TB) pre-hash the key so the shuffle moves 16
    bytes per row instead of the document: ``df.withColumn("_k",
    F.md5(col))`` then dedup on ``_k`` — identical grouping, since md5
    collisions are negligible at any realistic corpus size.
    """
    keep_fn = {"min": F.min, "max": F.max}[keep]
    return (
        df.groupBy(*key_cols)
        .agg(keep_fn(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def drop_exact_duplicates(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Return the surviving rows (full schema), keeping min-id per key.

    Implemented as a min-id aggregation + semi join rather than a
    ``row_number`` window: the window would sort every partition; the
    agg does map-side partial aggregation and a narrow shuffle.
    """
    keepers = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return df.join(keepers, on=[*key_cols, id_col], how="left_semi").select(*df.columns)


def dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    key_cols: list[str],
    id_col: str,
    within_batch: bool = True,
) -> DataFrame:
    """Incremental dedup: rows of ``new_df`` whose key does not already
    exist in ``corpus_df`` — the shape of every recurring ingest (crawl
    N+1 against the accumulated corpus). ``within_batch`` additionally
    collapses duplicates inside the new batch itself (min-id survivor),
    so the output is safe to append to the corpus.

    Scale: both sides reduce to hashed keys before the anti join —
    ``xxhash64`` of the key columns, 8 bytes per row across the
    shuffle, never the document text. The corpus side aggregates to
    DISTINCT key hashes first (it has been deduped before, but the agg
    also makes re-runs idempotent), and at 100 TB the anti join is a
    shuffled join on those 8-byte keys; when the daily batch is small
    relative to the corpus, Spark's AQE flips it to broadcast from the
    batch side automatically.
    """
    kh = F.xxhash64(*key_cols).alias("_mfs_kh")
    seen = corpus_df.select(kh).distinct()
    fresh = (
        new_df.withColumn("_mfs_kh", F.xxhash64(*key_cols))
        .join(seen, "_mfs_kh", "left_anti")
        .drop("_mfs_kh")
    )
    if within_batch:
        fresh = drop_exact_duplicates(fresh, key_cols, id_col)
    return fresh.select(*new_df.columns)


# --------------------------------------------------------------------------
# MinHash + LSH near-dup
# --------------------------------------------------------------------------

#: 2^31 - 1 (Mersenne prime). Hashes are masked to 31 bits so the
#: permutation a*h+b stays < 2^62 — no long overflow under ANSI mode.
_MERSENNE = (1 << 31) - 1

#: Driver bytes of one document beyond its 16 per token (the collected
#: token hashes and, at most as many, distinct shingle hashes) and 8 per
#: signature value: the id, the Arrow offset and the numpy header of
#: its shingle set. :func:`minhash_lsh_dedup` passes the sum as
#: ``bounded_collect``'s ``row_bytes``, so long documents are stopped
#: before they are collected.
_DOC_OVERHEAD = 136

#: Mean document length of the fixtures, in whitespace tokens: the
#: length the document operators' default driver caps assume.
MEAN_TOKENS = 54

#: Default driver cap of :func:`minhash_lsh_dedup`, in documents: as
#: many as fill ``bounded.DRIVER_BYTES`` at :data:`MEAN_TOKENS` tokens
#: and 64 hashes (44,384). The driver branch won up to the
#: 80,000 documents measured unless a mega-bucket outgrew
#: :data:`PAIR_CAP` (crossover table in :mod:`.bounded`), so memory
#: sets it; longer documents are stopped earlier by the gate's byte
#: total.
DOC_CAP = row_cap(16 * MEAN_TOKENS + 8 * 64 + _DOC_OVERHEAD)

#: Candidate pairs, summed over bands, the driver branch of
#: :func:`minhash_lsh_dedup` may build: 32 bytes each (the pair's rows
#: while a band is expanded and its key through the final unique), so
#: the candidates stay within ``bounded.DRIVER_BYTES`` too.
PAIR_CAP = row_cap(32)

#: Dup pairs the driver branches of :func:`dup_clusters`,
#: :func:`dup_cluster_sizes` and ``graph.pair_graph_stats`` collect at
#: most: a dict pass (union-find, or adjacency sets) over at most this
#: many pairs finishes in well under a second.
UNION_FIND_CAP = 100_000
#: Rounds of the distributed min-label propagation before it gives up
LABEL_ROUNDS = 50


def _shingles(text_col, n: int = 5):
    """Word n-gram shingles of a text column (array<string>), computed
    JVM-side: split, then the n shifted slices of the token array
    zipped and joined per window — linear in the token count (a
    per-window ``slice`` of the token array re-evaluated the split once
    per window). A text shorter than ``n`` tokens gives one shingle of
    all of them; a null text gives ``[""]``.

    Used only where the literal shingle strings are required (the
    SQL-oracle-matched exact-Jaccard path); the LSH hot path never
    materializes shingle strings — see :func:`_token_hashes` /
    :func:`_np_shingle_hashes`."""
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.split(F.lower(text), r"\s+")
    k = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
    # a slice starting past the end is empty, and arrays_zip pads it
    # with nulls, which concat_ws skips
    windows = F.arrays_zip(*[F.slice(tokens, j + 1, k) for j in range(n)])
    return F.when(text.isNull(), F.array(F.lit(""))).otherwise(
        F.transform(windows, lambda w: F.concat_ws(" ", *[w[str(j)] for j in range(n)]))
    )


def _token_hashes(text_col):
    """xxhash64 per lowercased whitespace token (array<bigint>), all
    JVM built-ins — one cheap hash call per token, no string
    concatenation."""
    tokens = F.split(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col), r"\s+")
    return F.transform(tokens, lambda t: F.xxhash64(t))


#: Fixed odd multipliers for position-wise shingle mixing (golden-ratio
#: constant; independent of any permutation seed so signature and
#: verify stages agree on shingle identity).
_MIX = 0x9E3779B97F4A7C15


def _np_shingle_hashes(arr: "np.ndarray", n: int) -> "np.ndarray":
    """Shingle hash per word n-gram window from per-token hashes:
    position-weighted wrap-around int64 mix, masked to 31 bits.

    Replaces building the shingle *string* and hashing it — the string
    construction (slice + concat per window, interpreted per element)
    was the measured bottleneck of the whole minhash pipeline. A
    sliding sum of weighted token hashes is order-sensitive, collision-
    sparse, and fully vectorized.
    """
    consts = np.array(
        [((2 * j + 1) * _MIX) % (1 << 64) for j in range(n)], dtype=np.uint64
    ).astype(np.int64)
    if arr.size >= n:
        k = arr.size - n + 1
        h = np.zeros(k, dtype=np.int64)
        for j in range(n):
            h = h + arr[j:j + k] * consts[j]
    else:  # short doc: one shingle over however many tokens exist
        h = np.zeros(1, dtype=np.int64)
        for j in range(arr.size):
            h = h + arr[j:j + 1] * consts[j]
    return h & np.int64(_MERSENNE)


def _minhash_coefs(num_hashes: int, seed: int) -> tuple["np.ndarray", "np.ndarray"]:
    """(A, B) of the ``num_hashes`` permutations ``(a*h + b) mod P``."""
    import random

    rng = random.Random(seed)
    coefs = [(rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE)) for _ in range(num_hashes)]
    return (np.array([a for a, _ in coefs], dtype=np.int64),
            np.array([b for _, b in coefs], dtype=np.int64))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<bigint>) — minhash over word shingles.

    Each of the ``num_hashes`` permutations is ``(a*h + b) mod P`` over
    ``xxhash64`` of the shingle (masked to 31 bits); the signature
    element is the min over shingles.

    Hybrid JVM/Arrow split (the measured-fast shape): tokens are
    hashed JVM-side (codegen'd xxhash64, one call per token — shingle
    *strings* are never built; their construction was the measured
    bottleneck), then shingle-hash windows and the dense (shingles ×
    num_hashes) permutation/min arithmetic run as vectorized numpy
    inside one Arrow-batched pandas UDF. Map-only — no shuffle.
    """
    A, B = _minhash_coefs(num_hashes, seed)
    P = np.int64(_MERSENNE)
    empty_sig = np.full(num_hashes, _MERSENNE, dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            if h is None:  # null text -> null signature (as the pure
                out.append(None)  # expression form null-propagated)
                continue
            arr = np.asarray(h, dtype=np.int64)
            if arr.size == 0:
                out.append(empty_sig)
                continue
            sh = _np_shingle_hashes(arr, shingle_n)
            # sh < 2^31 and a < 2^31, so a*sh+b < 2^62: no overflow
            out.append(((sh[:, None] * A + B) % P).min(axis=0))
        return pd.Series(out)

    # the signature arithmetic is CPU-bound per row — fan a coarse
    # input out to all cores (no-op on well-partitioned inputs)
    return ensure_min_partitions(df).select(
        F.col(id_col), _sig(_token_hashes(text_col)).alias("signature")
    )


def minhash_lsh_candidates(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 16,
    rows_per_band: int = 4,
    input_cached: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banding: docs agreeing on all rows of
    any band land in the same bucket; self-join per bucket.

    Scale: the explode produces ``num_bands`` rows/doc; the join is an
    equi-join on (band, bucket-hash) — candidates only, never n². Skewed
    buckets (boilerplate docs) are handled by AQE skew-join splitting.
    Output is canonicalized id_a < id_b and deduped across bands.

    The exploded bucket table feeds BOTH sides of the self-join, so it
    is persisted (memory-and-disk) — otherwise Spark computes the
    signature stage twice, once per join branch. Pass
    ``input_cached=True`` when ``sig_df`` is already persisted: the
    explode itself is cheap JVM hash/slice work, so recomputing it per
    join branch from the cache beats materializing a second cache.
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(F.slice("signature", b * rows_per_band + 1, rows_per_band)).alias("bucket"),
            )
            for b in range(num_bands)
        ]
    )
    exploded = sig_df.select(
        F.col(id_col), F.explode(bands).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    if not input_cached:
        exploded = track(exploded.persist())

    left = exploded.alias("l")
    right = exploded.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs (id_a, id_b):
    join texts in, compute |A∩B| / |A∪B| with array_intersect/union.

    Scale: candidate count << n²; the two joins are equi-joins on doc
    id against a (usually much smaller) candidate list, so Catalyst
    broadcasts the candidate side when it fits.
    """
    sets_df = ensure_min_partitions(df).select(
        F.col(id_col), F.array_distinct(_shingles(text_col, shingle_n)).alias("sh")
    )
    a = sets_df.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a")
    b = sets_df.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b")
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-dup: shingle-set containment
    ``cont_ab = |A∩B| / |A|`` (how much of A lives inside B) for
    candidate pairs. Catches what symmetric Jaccard misses — a short
    doc quoted whole inside a long one has Jaccard ≈ |A|/|B| (tiny)
    but containment ≈ 1. Returns ``(id_a, id_b, cont_ab, cont_ba)``
    for pairs where either direction reaches ``threshold``; a doc too
    short to yield a shingle gets containment 0, not a div-by-zero.

    Scale: same two id-equi-joins as :func:`ngram_jaccard_pairs` over a
    candidate list ≪ n². Mind the candidate source: MinHash-LSH
    recalls pairs by *Jaccard*, and a contained-short-doc pair can sit
    at low Jaccard — for containment-first discovery, band the
    SHORTER side's shingle sample (or use :mod:`..operators.spans`
    span census, which finds shared regions regardless of doc-length
    ratio) rather than plain Jaccard banding.
    """
    sets_df = ensure_min_partitions(df).select(
        F.col(id_col),
        F.array_distinct(_shingles(text_col, shingle_n)).alias("sh"),
    )
    a = sets_df.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a")
    b = sets_df.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))

    def _cont(own: str):
        return F.when(
            F.size(own) > 0, inter / F.size(own)
        ).otherwise(F.lit(0.0))

    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cont_ab", _cont("sh_a"))
        .withColumn("cont_ba", _cont("sh_b"))
        .filter(F.greatest("cont_ab", "cont_ba") >= threshold)
        .select(
            "id_a", "id_b",
            F.round("cont_ab", 4).alias("cont_ab"),
            F.round("cont_ba", 4).alias("cont_ba"),
        )
    )


def hashed_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
    threshold: float = 0.8,
    restrict_to_candidates: bool = True,
) -> DataFrame:
    """Exact Jaccard over candidate pairs computed on hashed shingles
    (same token-hash mixing as :func:`minhash_signatures`) instead of
    the shingle strings.

    Identical values to :func:`ngram_jaccard_pairs` barring hash
    collisions (negligible at any realistic shingle-set size), but the
    per-doc set is an array<bigint> — far cheaper to build, shuffle and
    intersect than string arrays. The set table is (a) restricted to
    docs that actually appear in a candidate pair (semi-join — at scale
    candidates ≪ corpus) and (b) persisted, because it feeds both join
    branches. ``candidates`` itself also has two consumers when
    restricting (the id restriction and the final pair join), so it is
    persisted too — otherwise the upstream LSH pipeline executes twice.

    ``restrict_to_candidates=False`` skips the semi-join and builds
    sets for the whole corpus: fewer blocking stages, the right trade
    when candidates are NOT much rarer than docs (small corpora, low
    thresholds). Keep the default for the 100 TB shape, where
    candidate docs ≪ corpus and the semi-join prunes almost all of the
    set-building work."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _shingle_set(hs: pd.Series) -> pd.Series:
        return pd.Series([
            None if h is None else (
                np.unique(_np_shingle_hashes(np.asarray(h, dtype=np.int64), shingle_n))
                if len(h) else np.array([], dtype=np.int64)
            )
            for h in hs
        ])

    base = df
    if restrict_to_candidates:
        candidates = track(candidates.persist())
        ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        base = df.join(ids, id_col, "left_semi")

    sets_df = track(ensure_min_partitions(base).select(
        F.col(id_col), _shingle_set(_token_hashes(text_col)).alias("sh")
    ).persist())
    a = sets_df.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a")
    b = sets_df.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b")
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _sig_and_set(arr: "np.ndarray", A: "np.ndarray", B: "np.ndarray",
                 shingle_n: int) -> tuple["np.ndarray", "np.ndarray"]:
    """Minhash signature and distinct hashed-shingle set of one
    document's token hashes."""
    if arr.size == 0:
        return np.full(len(A), _MERSENNE, dtype=np.int64), np.array([], dtype=np.int64)
    sh = _np_shingle_hashes(arr, shingle_n)
    # sh < 2^31 and a < 2^31, so a*sh+b < 2^62: no overflow
    return ((sh[:, None] * A + B) % np.int64(_MERSENNE)).min(axis=0), np.unique(sh)


def _minhash_sig_and_set(num_hashes: int, shingle_n: int, seed: int):
    """One Arrow-batched UDF emitting BOTH the minhash signature and the
    distinct hashed-shingle set from per-token hashes — the fused form
    used when the verify stage will need sets for (almost) every doc
    anyway, so tokenize+hash runs once instead of once per stage."""
    A, B = _minhash_coefs(num_hashes, seed)

    @F.pandas_udf("signature array<bigint>, sh array<bigint>")
    def _both(hs: pd.Series) -> pd.DataFrame:
        sig_out, set_out = [], []
        for h in hs:
            if h is None:
                sig_out.append(None)
                set_out.append(None)
                continue
            sig, sh = _sig_and_set(np.asarray(h, dtype=np.int64), A, B, shingle_n)
            sig_out.append(sig)
            set_out.append(sh)
        return pd.DataFrame({"signature": sig_out, "sh": set_out})

    return _both


def _spark_hash_rows(m: "np.ndarray") -> "np.ndarray":
    """Spark's ``hash`` of each row of an int64 matrix read as
    ``array<bigint>`` (Murmur3 x86_32, seed 42, folded element by
    element through ``hashLong``): the bucket key the distributed
    branch computes JVM-side, so both branches group alike."""
    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    u = np.ascontiguousarray(m, dtype=np.int64).view(np.uint64)
    h = np.full(len(m), 42, dtype=np.uint32)
    for col in range(m.shape[1]):
        for word in (u[:, col] & np.uint64(0xFFFFFFFF), u[:, col] >> np.uint64(32)):
            k = rotl(word.astype(np.uint32) * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
            h = rotl(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)
        h ^= h >> np.uint32(16)
        h *= np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h *= np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h.view(np.int32)


def _bucket_pairs(keys: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
    """(i, j), i < j, of every two rows sharing a key: per bucket of c
    rows, its c(c-1)/2 pairs, built without a Python loop."""
    order = np.argsort(keys, kind="stable")
    _, starts, counts = np.unique(keys[order], return_index=True, return_counts=True)
    pos = np.arange(len(keys))
    later = np.repeat(starts + counts, counts) - pos - 1  # rows after pos in its bucket
    left = np.repeat(pos, later)
    right = left + 1 + np.arange(len(left)) - np.repeat(np.cumsum(later) - later, later)
    i, j = order[left], order[right]
    return np.minimum(i, j), np.maximum(i, j)


def _minhash_pairs_np(
    hashes: "pa.ListArray", num_hashes: int, num_bands: int, shingle_n: int,
    threshold: float, seed: int, pair_cap: int,
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"] | None:
    """Driver branch of :func:`minhash_lsh_dedup` over the documents'
    token hashes: (row_a, row_b, jaccard) of every row pair that shares
    a band bucket and whose hashed-shingle Jaccard reaches
    ``threshold``. Buckets are keyed on Spark's ``hash`` of the band
    (:func:`_spark_hash_rows`), as in the distributed branch, so both
    see the same candidates. Null documents pair with nothing (the
    distributed verify drops them: a null set has a null size).

    ``None`` when the buckets hold more than ``pair_cap`` pairs summed
    over bands — counted from the bucket sizes before any pair is built
    — so a mega-bucket of boilerplate or identical documents (m of them
    give m(m-1)/2 pairs per band) goes to the distributed branch
    instead of exhausting the driver."""
    A, B = _minhash_coefs(num_hashes, seed)
    offsets = hashes.offsets.to_numpy()
    values = hashes.values.to_numpy()
    docs = np.flatnonzero(~hashes.is_null().to_numpy(zero_copy_only=False))
    sigs = np.empty((len(docs), num_hashes), dtype=np.int64)
    sets = []
    for k, d in enumerate(docs):
        sigs[k], sh = _sig_and_set(values[offsets[d]:offsets[d + 1]], A, B, shingle_n)
        sets.append(sh)
    rows_per_band = num_hashes // num_bands
    keys = [_spark_hash_rows(sigs[:, b * rows_per_band:(b + 1) * rows_per_band])
            for b in range(num_bands)]
    band_pairs = 0
    for k in keys:
        c = np.unique(k, return_counts=True)[1].astype(np.int64)
        band_pairs += int((c * (c - 1) // 2).sum())
    if band_pairs > pair_cap:
        return None
    n = np.int64(len(docs))
    cand = np.unique(np.concatenate(
        [np.zeros(0, dtype=np.int64)]
        + [i * n + j for i, j in map(_bucket_pairs, keys)]
    ))
    out = []
    for x, y in zip((cand // max(n, 1)).tolist(), (cand % max(n, 1)).tolist()):
        inter = np.intersect1d(sets[x], sets[y], assume_unique=True).size
        jac = inter / (sets[x].size + sets[y].size - inter)
        if jac >= threshold:
            out.append((docs[x], docs[y], jac))
    a, b, j = zip(*out) if out else ((), (), ())
    return np.array(a, dtype=np.int64), np.array(b, dtype=np.int64), np.array(j, dtype=np.float64)


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
    restrict_to_candidates: bool = True,
    driver_threshold: int = DOC_CAP,
) -> DataFrame:
    """Full near-dup pipeline: minhash -> LSH candidates -> exact
    Jaccard verify (hashed-shingle sets). Returns verified near-dup
    pairs (id_a, id_b, jaccard).

    Dual path (see :mod:`.bounded`). Corpora of at most
    ``driver_threshold`` documents (default :data:`DOC_CAP`) whose
    working set fits ``bounded.DRIVER_BYTES`` run on the driver: a
    first job collects each document's byte size, a second the token
    hashes (computed JVM-side) as Arrow buffers; then the signature and
    shingle-set numpy body of the distributed UDF, band grouping on
    Spark's own band hash and the hashed-shingle Jaccard run in numpy
    (:func:`_minhash_pairs_np`) — no Python workers, no shuffle. Band
    buckets holding more than :data:`PAIR_CAP` pairs send the corpus to
    the distributed branch. The final ``round`` runs in Spark on both
    branches, so values and schema match; tests pin driver ==
    distributed. ``driver_threshold=0`` forces the distributed branch.

    Distributed branch, ``restrict_to_candidates``: True (default) runs
    signature and verify as separate text passes so set-building can be
    semi-join pruned to candidate docs — the winning trade at cluster
    scale, where candidates ≪ corpus (see :func:`hashed_jaccard_pairs`).
    False fuses both text passes into ONE Arrow UDF emitting
    (signature, shingle-set) and persists that single base: buckets
    derive from the cached signature JVM-side and the verify joins
    sets from the same cache — half the tokenize+hash work and one
    persist instead of two, the winning trade when candidates are NOT
    much rarer than docs (small corpora, low thresholds)."""
    local = bounded_collect(
        df.select(F.col(id_col), _token_hashes(text_col).alias("h")),
        driver_threshold, "minhash_lsh_dedup",
        row_bytes=16 * F.coalesce(F.size("h"), F.lit(0)) + 8 * num_hashes + _DOC_OVERHEAD,
    )
    found = None
    if local is not None:
        found = _minhash_pairs_np(
            local.column(1).combine_chunks(), num_hashes, num_bands, shingle_n,
            threshold, seed, PAIR_CAP,
        )
        if found is None:
            bounded_log.info(
                "minhash_lsh_dedup: distributed path, band buckets hold > %d pairs",
                PAIR_CAP,
            )
    if found is not None:
        rows_a, rows_b, jac = found
        ids = local.column(0)
        a, b = ids.take(rows_a), ids.take(rows_b)
        # canonical id_a < id_b, as the distributed self-join emits
        swap = pc.fill_null(pc.greater(a, b), False)
        pairs = pa.table({
            "id_a": pc.if_else(swap, b, a), "id_b": pc.if_else(swap, a, b),
            "jaccard": jac,
        }).filter(pc.fill_null(pc.not_equal(a, b), False))
        id_type = df.schema[id_col].dataType
        schema = T.StructType([
            T.StructField("id_a", id_type), T.StructField("id_b", id_type),
            T.StructField("jaccard", T.DoubleType()),
        ])
        return df.sparkSession.createDataFrame(pairs, schema).select(
            "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
        )

    rows_per_band = num_hashes // num_bands
    if restrict_to_candidates:
        sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, seed)
        cands = minhash_lsh_candidates(sigs, id_col, num_bands, rows_per_band)
        return hashed_jaccard_pairs(
            df, cands, text_col, id_col, shingle_n, threshold,
            restrict_to_candidates=True,
        )

    both = _minhash_sig_and_set(num_hashes, shingle_n, seed)
    base = track(
        ensure_min_partitions(df)
        .select(F.col(id_col), both(_token_hashes(text_col)).alias("s"))
        .select(id_col, F.col("s.signature").alias("signature"), F.col("s.sh").alias("sh"))
        .persist()
    )
    cands = minhash_lsh_candidates(
        base.select(id_col, "signature"), id_col, num_bands, rows_per_band,
        input_cached=True,
    )
    a = base.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def near_dedup_against(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """Incremental NEAR-dedup: drop batch docs whose shingle-Jaccard
    with any CORPUS doc reaches ``threshold`` — the fuzzy sibling of
    :func:`dedup_against` (which only catches byte-identical keys).
    The production shape for rolling crawls: each day's batch dedups
    against the accumulated corpus without ever forming corpus×corpus
    pairs.

    Scale: both sides get the fused (signature, shingle-set) Arrow
    pass once; candidates come from a batch-bands × corpus-bands
    equi-join on (band, bucket) — cost scales with the BATCH's band
    rows and matching buckets, never |corpus|²; at cluster scale the
    corpus' band table and sets are precomputed once and reused across
    batches. Verify joins sets only for candidate pairs; survivors
    return via a left-anti join on flagged batch ids.

    Both per-side band tables are persisted (each feeds the bucket
    join and, for candidates, the verify join); corpus ids must share
    ``id_col``'s type with the batch but may overlap batch ids —
    pairs are (batch_id, corpus_id), never canonicalized.
    """
    rows_per_band = num_hashes // num_bands
    both = _minhash_sig_and_set(num_hashes, shingle_n, seed)

    def prep(df: DataFrame, tag: str) -> DataFrame:
        return track(
            ensure_min_partitions(df)
            .select(F.col(id_col), both(_token_hashes(text_col)).alias("s"))
            .select(
                F.col(id_col).alias(f"{tag}_id"),
                F.col("s.signature").alias("signature"),
                F.col("s.sh").alias(f"sh_{tag}"),
            )
            .persist()
        )

    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.hash(
                F.slice("signature", b * rows_per_band + 1, rows_per_band)
            ).alias("bucket"),
        )
        for b in range(num_bands)
    ])

    def buckets(prepped: DataFrame, tag: str) -> DataFrame:
        return prepped.select(
            f"{tag}_id", F.explode(bands).alias("bb")
        ).select(f"{tag}_id", "bb.band", "bb.bucket")

    b_prep, c_prep = prep(batch, "batch"), prep(corpus, "corpus")
    cands = (
        buckets(b_prep, "batch")
        .join(buckets(c_prep, "corpus"), ["band", "bucket"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    flagged = (
        cands.join(b_prep.select("batch_id", "sh_batch"), "batch_id")
        .join(c_prep.select("corpus_id", "sh_corpus"), "corpus_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_batch", "sh_corpus"))
            / F.size(F.array_union("sh_batch", "sh_corpus")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("batch_id").alias(id_col))
        .distinct()
    )
    return batch.join(flagged, id_col, "left_anti")


# --------------------------------------------------------------------------
# Dup-pair clustering (connected components) and canonical selection
# --------------------------------------------------------------------------

def dup_clusters(
    pairs: DataFrame, max_iter: int = LABEL_ROUNDS, driver_threshold: int = UNION_FIND_CAP
) -> DataFrame:
    """Connected components over near-dup pairs: (node, cluster) where
    ``cluster`` is the minimum id reachable through dup edges.

    Iterative min-label propagation: each round, every node takes the
    min of its own label and its neighbors' labels; converges in
    O(cluster diameter) rounds — near-dup clusters are shallow (most
    are size 2-3), so this terminates in a handful of shuffles. Each
    round is one join + one groupBy; labels are persisted per round and
    the loop stops when a round changes nothing (one small count per
    round — the standard Spark shape for iterative graph algorithms
    without GraphFrames).

    Pair sets at or below ``driver_threshold`` short-circuit to a
    driver-side union-find instead: a tiny graph pays several
    distributed rounds of pure job-scheduling overhead (measured 4.9s
    of a 6.8s clustering run on 256 edges at bench scale) for work a
    single core finishes in microseconds. The collect is BOUNDED by
    the threshold — a real 10⁹-pair corpus takes the distributed loop;
    identical output either way (min-reachable-id labels), pinned by
    test. The gate is :func:`.bounded.gate_pairs`, which persists
    ``pairs`` so their upstream runs once whichever branch is taken; set
    ``driver_threshold=0`` to force the distributed path.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    convergence (a silent partial result would let duplicates through
    ``drop_near_duplicates`` undetected); raise ``max_iter`` for
    corpora with very long duplicate chains.
    """
    pairs, local = gate_pairs(pairs, driver_threshold, "dup_clusters")
    if local is not None:
        roots = union_find(
            local.column(0).to_pylist(), local.column(1).to_pylist(), "dup_clusters"
        )
        spark = pairs.sparkSession
        schema = pairs.select(
            F.col("id_a").alias("node"), F.col("id_a").alias("cluster")
        ).schema
        return spark.createDataFrame(list(roots.items()), schema)
    return _propagate_min_labels(pairs, max_iter)


def _propagate_min_labels(pairs: DataFrame, max_iter: int = LABEL_ROUNDS) -> DataFrame:
    """:func:`dup_clusters`' distributed branch."""
    converged = False
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    prev = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    labels = prev
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry a per-node changed flag through the SAME cached frame so
        # the convergence probe is a filter on the cache, not an extra
        # old-vs-new join per round
        stepped = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.coalesce("nbr_label", "label") < F.col("label")).alias("_changed"),
            )
            .persist()
        )
        changed = stepped.filter("_changed").limit(1).count()
        prev.unpersist()
        prev = stepped
        labels = stepped.select("node", "label")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    # the final round's labels stay persisted for the caller's action;
    # release via cache.release_tracked_caches() in long sessions
    track(prev)
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds; "
            "a duplicate chain is longer than max_iter — raise max_iter"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster"))


def dup_cluster_sizes(
    pairs: DataFrame, driver_threshold: int = UNION_FIND_CAP
) -> DataFrame:
    """Node count per :func:`dup_clusters` cluster: ``(cluster,
    n_nodes)``. Below ``driver_threshold`` pairs the census is a counter
    over the driver union-find's roots, with no distributed groupBy over
    the small label frame; above it (or at 0) it is the distributed
    clustering loop plus a groupBy."""
    pairs, local = gate_pairs(pairs, driver_threshold, "dup_cluster_sizes")
    if local is not None:
        roots = union_find(
            local.column(0).to_pylist(), local.column(1).to_pylist(), "dup_cluster_sizes"
        )
        schema = T.StructType([
            pairs.select(F.col("id_a").alias("cluster")).schema.fields[0],
            T.StructField("n_nodes", T.LongType(), False),
        ])
        return pairs.sparkSession.createDataFrame(
            list(Counter(roots.values()).items()), schema
        )
    return _propagate_min_labels(pairs).groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def drop_near_duplicates(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Keep one row per near-dup cluster (the min id — deterministic)
    plus every row not in any dup pair. ``pairs`` comes from
    :func:`minhash_lsh_dedup` / :func:`embedding_near_dup_pairs`."""
    clusters = dup_clusters(pairs)
    losers = clusters.filter(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def keep_best_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    priority: str,
    id_col: str = "doc_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Near-dup canonical selection by QUALITY instead of min id: one
    row per dup cluster — the one maximizing ``priority`` (ties broken
    by ``tiebreak`` ascending, default the id) — plus every row not in
    any pair. :func:`drop_near_duplicates` keeps the min id, which is
    crawl-order bias; a curation pipeline usually wants the longest /
    highest-quality copy to survive.

    Scale: clustering cost is :func:`dup_clusters` (dup nodes only);
    the keeper choice is one window over CLUSTER MEMBERS — state per
    task is a cluster, never the corpus. Non-dup rows never shuffle.

    (r15 note: a bounded all-driver keeper path — union-find + member
    collect + broadcast anti-join, mirroring dup_clusters' gate — was
    measured 5% SLOWER than this shape in a same-session A/B: the
    extra member-fetch action costs more than the window over the tiny
    member set saves. Rejected per guide §1.1; dup_clusters' own
    driver short-circuit already does the heavy lifting here.)
    """
    clusters = dup_clusters(pairs)
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


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document over word tokens.

    For each bit b: sign of sum over tokens of (hash(token) bit b ? +1 :
    -1). Token hashing is JVM xxhash64; the (tokens × 64) bit-vote
    matrix is one numpy broadcast in an Arrow-batched pandas UDF (64
    separate interpreted HOF folds were the previous shape — ~10×
    slower because each fold re-walks the token array per bit).
    Map-only, no shuffle.
    """
    shifts = np.arange(bits, dtype=np.int64)

    @F.pandas_udf(T.LongType())
    def _vote_pack(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            if h is None:  # null text -> 0, matching the expression
                continue   # form (null votes fold to the otherwise-0)
            arr = np.asarray(h, dtype=np.int64)
            if arr.size == 0:
                continue
            votes = (2 * ((arr[:, None] >> shifts) & 1) - 1).sum(axis=0)
            word = 0
            for b in np.nonzero(votes > 0)[0]:
                word |= 1 << int(b)
            # bit 63 set => negative two's-complement long
            out[i] = word - (1 << 64) if word >= (1 << 63) else word
        return pd.Series(out)

    tokens = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    return ensure_min_partitions(df).select(
        F.col(id_col), _vote_pack(hashes).alias("simhash")
    )


def simhash_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of docs sharing an identical simhash (strong near-dup
    signal). One shuffle on the 8-byte hash."""
    return (
        simhash(df, text_col, id_col)
        .groupBy("simhash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") > 1)
        .select(id_col, "n_members")
    )


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    normalize: bool = True,
) -> DataFrame:
    """SoftDedup-style duplication REWEIGHTING (Xu et al. 2024,
    "SoftDedup": down-weight duplicated data instead of deleting it):
    per-document sampling weight ``(1 / dup_count) ** alpha`` where
    ``dup_count`` is the size of the document's exact-duplicate
    cluster (md5 of the dedup-normalized text). At ``alpha=1`` every
    cluster contributes total weight exactly 1 — the soft equivalent
    of hard exact-dedup in expectation — while ``alpha<1``
    interpolates toward keeping duplicates at reduced rate (the
    paper's observation: mild repetition of common data helps; hard
    removal throws signal away). Feed the ``weight`` column to
    ``sampling.weighted_sample`` / ``weighted_sample_k``.

    Returns the compact ``(id_col, dup_count, weight)`` frame — at
    100 TB the full-row variant would shuffle every text byte by
    cluster key; this shape shuffles only (id, 16-byte key) pairs
    (word-count-shaped groupBy with map-side combine, then a key join
    between two already-co-partitioned sides). Join weights back to
    the corpus by ``id_col`` if row-level columns are needed.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from meta_frame_spark.functions.text import normalize_text

    keyed = F.col(text_col) if not normalize else normalize_text(text_col)
    pairs = df.select(F.col(id_col), F.md5(keyed).alias("_k"))
    sizes = pairs.groupBy("_k").agg(F.count(F.lit(1)).alias("dup_count"))
    # null-safe join key: md5(NULL) is NULL and a plain equi-join
    # would silently DROP every null-text row; eqNullSafe keeps them,
    # clustered together — the same grouping the size aggregate used
    return (
        pairs.join(sizes, pairs["_k"].eqNullSafe(sizes["_k"]))
        .select(
            id_col,
            "dup_count",
            F.pow(
                F.lit(1.0) / F.col("dup_count"), F.lit(float(alpha))
            ).alias("weight"),
        )
    )


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    normalize: bool = True,
) -> DataFrame:
    """Cross-source exact-duplication matrix — the provenance audit
    behind dedup policy (which feeds copy from which, where one
    source is a mirror of another, which pair a cross-source
    `dedup_against` should prioritize): for every UNORDERED source
    pair, the number of distinct normalized-text clusters present in
    BOTH. Output ``(source_a, source_b, n_shared)`` with
    ``source_a < source_b``, only pairs with overlap.

    Scale: one (md5-key, source) distinct aggregate (map-side
    combined, shuffles 16-byte keys), then per-key source SETS —
    bounded by the source count, never by cluster size — exploded
    into in-row pairs (the `basket.py` HOF pattern: pairs are built
    inside each key's row, raw rows never pair) and one bounded
    rollup, at most |sources|^2 output rows."""
    from meta_frame_spark.functions.text import normalize_text

    keyed = F.col(text_col) if not normalize else normalize_text(text_col)
    per_key = (
        # null texts are no content — without the filter they would
        # all share the md5(NULL)=NULL cluster and report a spurious
        # "overlap" between any two sources holding null rows
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.md5(keyed).alias("_k"), F.col(source_col).alias("_s")
        )
        .groupBy("_k")
        .agg(F.sort_array(F.collect_set("_s")).alias("_srcs"))
        .filter(F.size("_srcs") > 1)
    )
    # in-row unordered pairs via index HOFs (i < j)
    idx = F.sequence(F.lit(0), F.size("_srcs") - 1)
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(F.col("_srcs"), i + 2, F.size("_srcs")),
                lambda s: F.struct(
                    F.col("_srcs")[i].alias("a"), s.alias("b")
                ),
            ),
        )
    )
    return (
        per_key.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
