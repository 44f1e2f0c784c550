"""Similarity search over embedding columns (SURVEY.md §7.1 step 6c;
no equivalent in the reference).

Two tiers, as a production ANN pipeline would have:

* ``brute_force_topk`` — exact cosine top-k. The correctness baseline,
  and the right choice whenever the *query* set is small: the query
  side is broadcast, the corpus is scanned once (embarrassingly
  parallel map), and only (n_queries × k) rows survive the final
  per-query top-k shuffle.
* ``srp_lsh_topk`` — signed-random-projection LSH: hash vectors into
  sign-pattern buckets per band, join queries to corpus on matching
  buckets only, exact-rescore candidates. Sub-linear candidate count;
  at 100 TB the bucket join replaces the full scan per query batch.

Exact scoring is built-in expressions (zip_with/aggregate/window) so
the DuckDB oracle can mirror it bit-for-bit; the LSH projection stage
is a vectorized (Arrow-batched) pandas UDF doing one numpy matmul per
batch — the measured-fast shape for dense linear algebra.

``embedding_near_dup_pairs`` is dual-path (:mod:`.bounded`): below its
``driver_threshold`` the same SRP bucketing and cosine verify run in
numpy on one bounded Arrow collect, with no Python worker and no
shuffle; above it the distributed plan runs unchanged.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from meta_frame_spark.functions.vectors import cosine_similarity
from meta_frame_spark.operators.bounded import bounded_collect, row_cap
from meta_frame_spark.operators.bounded import log as bounded_log


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    round_scores: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, rank) ordered deterministically:
    score desc, neighbor_id asc tiebreak. With ``round_scores`` the
    ordering score is rounded to that many decimals first — pass 12 to
    share tie semantics with mmr_select's 12dp argmax, so two
    candidates whose cosines differ by <5e-13 rank by neighbor_id on
    both sides instead of by a last-ulp score difference (ADVICE r7).
    The queries side is hinted broadcast — the corpus never shuffles
    for the scoring stage; the only shuffle is the per-query top-k
    window over surviving rows.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn("score", cosine_similarity("q_vec", "c_vec"))
    order_score = (
        F.round(F.col("score"), round_scores)
        if round_scores is not None else F.col("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        order_score.desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _srp_planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _srp_band_buckets(M: "np.ndarray", planes: "np.ndarray",
                      planes_per_band: int) -> "np.ndarray":
    """(n, num_bands) int32 bucket ids of the rows of ``M``: signs of the
    hyperplane projections, packed per band MSB-first."""
    weights = (1 << np.arange(planes_per_band - 1, -1, -1)).astype(np.int64)
    bits = (M @ planes.T >= 0).astype(np.int64)  # (n, n_planes)
    bits = bits.reshape(len(M), len(planes) // planes_per_band, planes_per_band)
    return (bits @ weights).astype(np.int32)


def _bucketize(df: DataFrame, ident: str, vec: str,
               planes: list[list[float]], planes_per_band: int, num_bands: int) -> DataFrame:
    """(_id, v, band, bucket) — one row per (vector, band).

    The hyperplane projections run as ONE numpy matmul per Arrow batch
    inside a vectorized pandas UDF: (batch × dim) @ (dim × n_planes),
    signs packed per band MSB-first into integer bucket ids. The
    previous all-built-in form (nested transform/aggregate/zip_with)
    evaluated interpreted lambdas per element — dim × n_planes calls
    per row — and measured ~5× slower. Map-only; the UDF emits only
    ``num_bands`` ints per vector.
    """
    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    dim = P.shape[1]

    @F.pandas_udf("array<int>")
    def _buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        # null / wrong-length vectors get a null bucket array; the
        # posexplode downstream then drops those rows (null-propagating
        # like the pure-expression form, instead of np.stack crashing)
        valid = [i for i, v in enumerate(vs) if v is not None and len(v) == dim]
        out = [None] * len(vs)
        if valid:
            M = np.stack([np.asarray(vs.iloc[i], dtype=np.float64) for i in valid])
            bk = _srp_band_buckets(M, P, planes_per_band)
            for j, i in enumerate(valid):
                out[i] = bk[j]
        return pd.Series(out)

    return (
        df.select(
            F.col(ident).alias("_id"), F.col(vec).alias("v"),
            _buckets(F.col(vec)).alias("bks"),
        )
        .select("_id", "v", F.posexplode("bks").alias("band", "bucket"))
    )


def srp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes_per_band: int = 4,
    num_bands: int = 16,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: SRP-LSH candidate generation + exact
    rescoring. A query's candidates are corpus vectors sharing its
    sign-bucket in >=1 band.

    Scale: corpus side computes ``num_bands`` bucket ids per vector
    (map-only), explodes to (band, bucket) keys, and the candidate join
    is an equi-join on those keys — never a cross join. Recall tunes
    with bands (more bands = more recall, more candidates).
    """
    all_planes = _srp_planes(dim, planes_per_band * num_bands, seed)
    cb = _bucketize(corpus, id_col, vec_col, all_planes, planes_per_band, num_bands)
    qb = _bucketize(queries, id_col, vec_col, all_planes, planes_per_band, num_bands)

    cands = (
        cb.alias("c")
        .join(
            F.broadcast(qb.alias("q")),
            on=[
                F.col("c.band") == F.col("q.band"),
                F.col("c.bucket") == F.col("q.bucket"),
            ],
        )
        .select(
            F.col("q._id").alias("query_id"),
            F.col("c._id").alias("neighbor_id"),
            F.col("q.v").alias("q_vec"),
            F.col("c.v").alias("c_vec"),
        )
    )
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))
    cands = cands.dropDuplicates(["query_id", "neighbor_id"])

    scored = cands.withColumn("score", cosine_similarity("q_vec", "c_vec"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _lloyd_kmeans(
    X: "np.ndarray", k: int, seed: int, iters: int = 10
) -> "np.ndarray":
    """k-means++ init + ``iters`` Lloyd rounds, pure numpy. Coarse-
    quantizer quality only — no convergence check, empty cells keep
    their previous centroid. O(n·k·dim) per round; n is bounded by the
    caller's training-sample cap, so this is always driver-cheap."""
    rng = np.random.default_rng(seed)
    n = len(X)
    centroids = np.empty((k, X.shape[1]), dtype=np.float64)
    centroids[0] = X[rng.integers(n)]
    d2 = ((X - centroids[0]) ** 2).sum(1)
    for j in range(1, k):
        total = d2.sum()
        idx = rng.choice(n, p=d2 / total) if total > 0 else rng.integers(n)
        centroids[j] = X[idx]
        d2 = np.minimum(d2, ((X - centroids[j]) ** 2).sum(1))
    for _ in range(iters):
        d = (X * X).sum(1)[:, None] - 2 * (X @ centroids.T) + (
            centroids * centroids
        ).sum(1)
        a = d.argmin(1)
        for j in range(k):
            members = a == j
            if members.any():
                centroids[j] = X[members].mean(0)
    return centroids


def _fit_quantizer(
    corpus_vec: DataFrame,
    n_cells: int,
    seed: int,
    fit_fraction: float | None = None,
    max_train: int = 25_600,
) -> "np.ndarray":
    """Centroids for a coarse quantizer, trained driver-side on a
    bounded sample of ``corpus_vec`` (columns ``_id``, ``v``): rows are
    taken in ``xxhash64(_id)`` order, so the training set is
    deterministic on any partitioning and ``limit`` plans as
    per-partition top-N — never a full sort. ``fit_fraction``
    additionally thins the pre-limit scan for extreme corpora."""
    fit_input = corpus_vec
    if fit_fraction is not None:
        fit_input = corpus_vec.sample(fraction=fit_fraction, seed=seed)
    train_rows = (
        fit_input.select("v", F.xxhash64("_id").alias("_h"))
        .orderBy("_h")
        .limit(max_train)
        .collect()
    )
    if not train_rows:
        raise ValueError("quantizer fit: corpus has no non-null vectors")
    X = np.stack([np.asarray(r.v, dtype=np.float64) for r in train_rows])
    return _lloyd_kmeans(X, min(n_cells, len(X)), seed)


def _cell_assigner(centroids: "np.ndarray"):
    """Arrow-batched UDF mapping each vector to its nearest centroid
    (one (batch × n_cells) matmul per batch, map-only)."""

    @F.pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        d = (M * M).sum(1)[:, None] - 2 * (M @ centroids.T) + (
            centroids * centroids
        ).sum(1)
        return pd.Series(d.argmin(1).astype(np.int32))

    return _assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 32,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_self: bool = True,
    fit_fraction: float | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer
    partitions the corpus into ``n_cells`` cells; each query probes its
    ``n_probe`` nearest cells and exact-rescores only those vectors.

    The scale shape of FAISS-style IVF on Spark:

    * train: Lloyd k-means on the driver over a BOUNDED sample
      (``max_train`` rows picked by id-hash order — deterministic on
      any partitioning). This is how FAISS itself trains coarse
      quantizers (a fixed-size training set, never the corpus): the
      cells only need to outline the density, so a distributed fit
      buys nothing but per-iteration job latency — the previous MLlib
      KMeans spent ~10 driver-coordinated jobs converging a quantizer
      that needs no convergence (measured 2.4s -> 0.9s end-to-end at
      bench scale). ``fit_fraction`` additionally thins the pre-limit
      scan for corpora where even the top-N-by-hash job reads too much;
    * assign: every corpus vector maps to its nearest centroid in one
      Arrow-batched pandas UDF (a (batch × n_cells) matmul per batch,
      map-only, no shuffle);
    * probe: centroids are tiny (n_cells × dim) and ship to the
      query-side pandas UDF as a closure numpy matrix — each query
      emits its n_probe cell ids, exploded to probe rows;
    * candidates: equi-join probe rows to corpus on cell id — reads
      ~n_probe/n_cells of the corpus per query instead of all of it.

    Expected candidate fraction n_probe/n_cells tunes recall vs cost;
    at 100 TB, cell id becomes the corpus partition key so a probe
    reads only matching partitions (partition pruning on the sink
    layout, SURVEY.md §7.1 step 7).
    """
    corpus_vec = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("v")
    )
    centroids = _fit_quantizer(corpus_vec, n_cells, seed, fit_fraction)

    cdim = centroids.shape[1]

    assigned = corpus_vec.select(
        "_id", "v", _cell_assigner(centroids)(F.col("v")).alias("cell")
    )

    @F.pandas_udf("array<int>")
    def _probe_cells(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        valid = [i for i, v in enumerate(vs) if v is not None and len(v) == cdim]
        out = [None] * len(vs)  # null/ragged query vectors probe nothing
        if valid:
            M = np.stack([np.asarray(vs.iloc[i], dtype=np.float64) for i in valid])
            # squared euclidean to every centroid: ||q||² - 2q·c + ||c||²
            d = (M * M).sum(1)[:, None] - 2 * (M @ centroids.T) + (centroids * centroids).sum(1)
            order = np.argsort(d, axis=1)[:, :n_probe].astype(np.int32)
            for j, i in enumerate(valid):
                out[i] = order[j]
        return pd.Series(out)

    probes = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
            _probe_cells(F.col(vec_col)).alias("cells"),
        )
        .select("query_id", "q_vec", F.explode("cells").alias("cell"))
    )

    cands = assigned.join(F.broadcast(probes), "cell").select(
        "query_id",
        F.col("_id").alias("neighbor_id"),
        "q_vec",
        F.col("v").alias("c_vec"),
    )
    if exclude_self:
        cands = cands.filter(F.col("query_id") != F.col("neighbor_id"))

    scored = cands.withColumn("score", cosine_similarity("q_vec", "c_vec"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


#: Gram-block size of the driver branch: rows per block times corpus rows.
_GRAM_BLOCK = 1 << 20

#: Near-duplicate pairs the driver branch of
#: :func:`embedding_near_dup_pairs` may hold: about 128 bytes each
#: through the final sort and the Arrow result, within
#: ``bounded.DRIVER_BYTES``.
PAIR_CAP = row_cap(128)


def _near_dup_pairs_np(
    ids: "np.ndarray", M: "np.ndarray", planes: "np.ndarray",
    planes_per_band: int, threshold: float, pair_cap: int,
) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"] | None:
    """Driver branch of :func:`embedding_near_dup_pairs` on the valid
    vectors ``M`` (n × dim, float64): (id_a, id_b, cosine) of every
    row pair that shares a band bucket and reaches ``threshold``, or
    ``None`` as soon as more than ``pair_cap`` pairs are found (a
    mega-cluster of duplicates: m copies give m(m-1)/2 pairs).

    Sharing a bucket and reaching the threshold are independent tests
    of one pair, so the verify runs first, as one blocked Gram product
    of the normalized rows, and only the pairs above the threshold are
    checked for a shared bucket. Below the cap the dense product is the
    cheaper order: at the loose settings near-dup audits use (2 planes
    per band) the in-bucket products of all bands cover more entries
    than the n²/2 of the Gram matrix."""
    bk = _srp_band_buckets(M, planes, planes_per_band)
    with np.errstate(divide="ignore", invalid="ignore"):
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
    n = len(M)
    step = max(1, _GRAM_BLOCK // max(n, 1))
    empty = np.zeros(0, dtype=np.int64)
    rows, cols, cos = [empty], [empty], [np.zeros(0)]
    found = 0
    for lo in range(0, n, step):
        S = M[lo:lo + step] @ M.T
        i, j = np.nonzero(S >= threshold)
        c = S[i, j]
        i = i + lo
        keep = j > i
        i, j, c = i[keep], j[keep], c[keep]
        keep = (bk[i] == bk[j]).any(axis=1)
        found += int(keep.sum())
        if found > pair_cap:
            return None
        rows.append(i[keep])
        cols.append(j[keep])
        cos.append(c[keep])
    i, j, c = (np.concatenate(x) for x in (rows, cols, cos))
    a, b = ids[i], ids[j]
    a, b = np.minimum(a, b), np.maximum(a, b)
    # repeated ids: one row per id pair, its largest cosine (the
    # distributed branch's groupBy(id_a, id_b).max)
    order = np.lexsort((-c, b, a))
    a, b, c = a[order], b[order], c[order]
    first = np.ones(len(a), dtype=bool)
    first[1:] = (a[1:] != a[:-1]) | (b[1:] != b[:-1])
    return a[first], b[first], c[first]


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    planes_per_band: int = 4,
    num_bands: int = 16,
    seed: int = 42,
    driver_threshold: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold) via the same SRP-LSH bucketing — candidates only, then
    exact cosine verify. Null and wrong-length vectors pair with
    nothing.

    Dual path (see :mod:`.bounded`). Inputs of at most
    ``driver_threshold`` rows (default: as many as fit
    ``bounded.DRIVER_BYTES`` of driver working set) run on the
    driver: one bounded Arrow collect, then SRP projections with the
    same planes, band buckets and the cosine verify in numpy
    (:func:`_near_dup_pairs_np`) — no Python workers, no shuffle.
    More than :data:`PAIR_CAP` pairs above the threshold send the input
    to the distributed branch. ``driver_threshold=0`` forces it.

    Distributed branch: the verify runs per (band, bucket) group with
    ``applyInPandas``: one shuffle of the bucketized vectors, then an
    in-group pairwise matmul (normalize once per vector, S = M·Mᵀ),
    emitting ONLY above-threshold pairs. Candidate pairs are never
    materialized as rows — the previous self-join + dropDuplicates
    shape shuffled every candidate pair with both 64-float vectors
    attached (~GBs at 2k vectors / low threshold) and scored them with
    interpreted per-element lambdas; this shape moves each vector
    ``num_bands`` times, total work per group is one BLAS call, and the
    final dedup shuffles only survivors. Skewed buckets (a mega-cluster
    of dups) should be salted upstream or capped via
    ``planes_per_band``.

    Both branches round the cosine in Spark, so values and schema
    match; tests pin driver == distributed."""
    all_planes = _srp_planes(dim, planes_per_band * num_bands, seed)
    if driver_threshold is None:
        # float64 vectors and their normalized copy, the float32
        # collected copy, projections and sign bits
        driver_threshold = row_cap(4 * (5 * dim + 4 * planes_per_band * num_bands))
    # wrong-length vectors pair with nothing: null them JVM-side so
    # every collected row is at most ``dim`` floats wide
    fixed = F.when(F.size(vec_col) == dim, F.col(vec_col)).alias(vec_col)
    local = bounded_collect(
        df.select(id_col, fixed), driver_threshold, "embedding_near_dup_pairs"
    )
    found = None
    if local is not None:
        vecs = local.column(1).combine_chunks()
        valid = pc.fill_null(pc.equal(pc.list_value_length(vecs), dim), False)
        M = (
            pc.filter(vecs, valid).flatten()
            .to_numpy(zero_copy_only=False).astype(np.float64).reshape(-1, dim)
        )
        ids = pc.filter(local.column(0), valid).to_numpy().astype(np.int64)
        found = _near_dup_pairs_np(
            ids, M, np.asarray(all_planes, dtype=np.float64), planes_per_band,
            threshold, PAIR_CAP,
        )
        if found is None:
            bounded_log.info(
                "embedding_near_dup_pairs: distributed path, > %d pairs", PAIR_CAP
            )
    if found is not None:
        a, b, c = found
        pairs = df.sparkSession.createDataFrame(
            pa.table({"id_a": a, "id_b": b, "cosine": c}),
            "id_a bigint, id_b bigint, cosine double",
        )
        return pairs.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))

    eb = _bucketize(df, id_col, vec_col, all_planes, planes_per_band, num_bands)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        norms = np.linalg.norm(M, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            M = M / norms
        S = M @ M.T
        iu, ju = np.triu_indices(n, k=1)
        keep = S[iu, ju] >= threshold
        ids = pdf["_id"].to_numpy()
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame({
            "id_a": np.minimum(a, b),
            "id_b": np.maximum(a, b),
            "cosine": S[iu, ju][keep],
        })

    survivors = eb.groupBy("band", "bucket").applyInPandas(
        score_group, schema="id_a bigint, id_b bigint, cosine double"
    )
    # a pair surviving in several bands appears once per band — dedup
    # the (small) survivor set only
    return survivors.groupBy("id_a", "id_b").agg(
        F.round(F.max("cosine"), 4).alias("cosine")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for each
    query, the ``k`` most-similar corpus items that are NOT known
    positives — returns (query_id, neighbor_id, rank), rank by cosine
    desc with id tiebreak. ``positives`` is (query_id, neighbor_id).

    The exclusion runs BEFORE the top-k window (left_anti on the pair
    key), so positives can never crowd real negatives out of the k.

    Scale: default path scores corpus × broadcast(queries) — exact, and
    linear in the corpus, right while the query batch is small (the
    mining loop usually processes queries in batches). For corpus-scale
    query sets pass ``candidates`` (query_id, neighbor_id) from
    :func:`srp_lsh_topk`-style bucketing with an oversampled k — then
    only candidate pairs are scored and the crossJoin disappears.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    if candidates is None:
        pairs = c.crossJoin(F.broadcast(q))
    else:
        pairs = (
            candidates.select("query_id", "neighbor_id")
            .join(q, "query_id")
            .join(c, "neighbor_id")
        )
    pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id")).join(
        positives.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_anti",
    )
    scored = pairs.withColumn("score", cosine_similarity("q_vec", "c_vec"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def group_centroids(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
    pos_col: str = "pos",
    mean_col: str = "mean_val",
) -> DataFrame:
    """Per-group embedding centroid as (group..., pos, mean_val) rows —
    the element-wise mean (k-means M-step, class prototypes, domain
    embedding summaries).

    Pure JVM shape: posexplode each vector and average per (group,
    position). The shuffle moves rows x dim scalar values (16 B each)
    with map-side partial aggregation — for dim <= a few hundred this
    beats an Arrow round-trip, and there is no per-group vector state
    anywhere. Emitting scalar rows (not arrays) keeps results exactly
    comparable across engines; pivot back with ``sort_array
    (collect_list(struct(pos, mean_val)))`` when an array is needed.
    """
    exploded = df.select(
        *group_cols, F.posexplode(F.col(vec_col)).alias(pos_col, "_x")
    )
    return exploded.groupBy(*group_cols, pos_col).agg(
        F.avg("_x").alias(mean_col)
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    z_threshold: float = 2.0,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-space quality audit: vectors whose Euclidean distance
    to the global centroid is a z-score outlier — the cheap detector
    for broken encoders, zero vectors, and out-of-domain strays before
    they poison ANN graphs or SemDeDup cells. Returns
    ``(id_col, dist, z)`` for ``z >= z_threshold``.

    Shape: the centroid is one posexplode + per-dimension avg (skinny
    (dim, partial) rows, map-side combined) broadcast back as a single
    array; distances are map-only ``zip_with`` HOFs; the distance
    mean/stddev is one more scalar broadcast. Two passes over the
    vectors' bytes (centroid, then distances), zero Python, nothing
    row-grain ever shuffles. The skinny ``(id, dist)`` frame feeds BOTH
    the μ/σ aggregate and the final projection, so it is persisted
    (tracked via operators/cache) — without it the posexplode-centroid
    and the zip_with distance map execute twice (VERDICT r4).
    """
    cent = (
        df.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", "m"))
            ).alias("s")
        )
        .select(F.transform("s", lambda t: t["m"]).alias("_cent"))
    )
    from meta_frame_spark.functions.vectors import l2_distance

    from meta_frame_spark.operators.cache import track

    dists = track(
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(cent))
        .select(
            id_col, l2_distance(F.col(vec_col), F.col("_cent")).alias("dist")
        )
        .persist()
    )
    stats = dists.agg(
        F.avg("dist").alias("_mu"), F.stddev_samp("dist").alias("_sd")
    )
    z = F.when(
        F.col("_sd") > 0, (F.col("dist") - F.col("_mu")) / F.col("_sd")
    )
    return (
        dists.crossJoin(F.broadcast(stats))
        .filter(z.isNotNull() & (z >= z_threshold))
        .select(
            id_col,
            F.round("dist", round_to).alias("dist"),
            F.round(z, round_to).alias("z"),
        )
    )
