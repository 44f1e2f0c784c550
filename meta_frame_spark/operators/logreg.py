"""Hashed bag-of-n-grams logistic regression — the classic linear
quality classifier of LLM data pipelines.

Not in the reference (SURVEY.md §2 — no model-fitting surface); this
is the public recipe behind CCNet / GPT-3 / LLaMA quality filtering
(Wenzek et al. 2020; Brown et al. 2020 Appendix A): train a linear
classifier over hashed text features to separate a high-quality
exemplar corpus from the raw pool, then keep pool documents the
classifier scores target-like. It complements the two selection tools
already here — ``dsir.dsir_log_weights`` (importance weights, no fit)
and ``nb.nb_train`` (generative Naive Bayes) — with the
discriminative model those papers actually shipped.

Scale design (the same bounded-state discipline as kmeans/pq fits):

* **Features**: every n-gram instance maps to
  ``int(md5(gram)[:hex_chars], 16)`` — a fixed ``V = 16^hex_chars``
  feature space (256 at the default 2), md5 so the DuckDB oracle
  replays every bucket. The per-doc INT bucket array is hashed ONCE,
  map-side, and persisted (the dsir.py round-10 pattern) — gram
  instances are never shuffled.
* **Deterministic full-batch gradient descent**, driver-sequenced:
  each iteration broadcasts the weight vector as a LITERAL array
  (V + 1 doubles), computes every document's logit map-only via
  ``F.aggregate`` over the cached bucket array (no join, no
  shuffle), and reduces the gradient with one groupBy whose output
  is bounded by V rows (map-side partials make the exchange
  kilobytes at any corpus size). Driver state per step: V + 1
  doubles — never data rows. A labeled set that fits the driver runs
  the same GD in numpy on one bounded collect (:mod:`.bounded`).
* Full-batch (not stochastic) on purpose: the fit is a pure
  function of the input set, so the same weights come out on any
  cluster, partitioning, or engine — which is what makes the DuckDB
  oracle able to replay training step by step.
* Iterations are few and fixed (default 3): at 100 TB each step is
  one cached-columnar scan + a V-row shuffle, and the usual
  pipeline gates on a score QUANTILE (see ``ranking.quantile_match``
  / ``gating.quantile_band_filter``), which is insensitive to exact
  convergence.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meta_frame_spark.operators.bounded import bounded_collect, row_cap
from meta_frame_spark.operators.cache import track
from meta_frame_spark.operators.dedup import MEAN_TOKENS, _shingles

#: Driver bytes of one n-gram instance in :func:`_train_driver`: the
#: collected int32 bucket, its int64 copy, its weight, the weights'
#: prefix sum and the repeated residual.
_GRAM_BYTES = 40
#: Driver bytes of one document beyond its n-grams: the collected label
#: and list offset, and the per-document length, end, logit and
#: residual arrays.
_DOC_BYTES = 80


_NO_ROWS = "train_text_classifier: no non-null text and label rows"


def _bucket_array(text_col: str, n: int, hex_chars: int) -> Column:
    """Per-row INT bucket array: one element per n-gram instance."""
    return F.transform(
        _shingles(text_col, n),
        lambda g: F.conv(F.substring(F.md5(g), 1, hex_chars), 16, 10)
        .cast("int"),
    )


def _logit(bucket_arr: Column, weights: list[float]) -> Column:
    """Map-only logit: bias + sum over instances of w[bucket].
    ``weights`` is ``[bias, w_0 .. w_{V-1}]`` broadcast as a literal
    array — no join anywhere. ONE typed array literal (not
    ``F.array`` of V ``lit``s, which would put a V-child CreateArray
    into every generated method and bloat codegen)."""
    warr = F.lit([float(w) for w in weights[1:]])
    return F.lit(float(weights[0])) + F.aggregate(
        F.transform(bucket_arr, lambda b: F.element_at(warr, b + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def train_text_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n: int = 2,
    hex_chars: int = 2,
    iters: int = 3,
    learning_rate: float = 1.0,
    driver_threshold: int = row_cap(_DOC_BYTES + _GRAM_BYTES * MEAN_TOKENS),
) -> list[float]:
    """Fit the classifier on rows labeled 0/1 in ``label_col``;
    returns ``[bias, w_0 .. w_{V-1}]`` (V + 1 floats — bounded driver
    state, the kmeans-centroid contract). Rows with a null text or a
    null label are ignored.

    Update rule (plain full-batch GD from w = 0, which makes step 1's
    probabilities exactly 0.5 — handy for oracle replay)::

        p_i   = sigmoid(bias + sum_b c_ib * w_b)
        grad_b = (1/N) * sum_i (p_i - y_i) * c_ib
        w_b  -= learning_rate * grad_b        (bias likewise, c=1)

    Per iteration: one map-only scan of the persisted bucket arrays
    for the logits, ONE aggregate for the bias gradient fused with a
    <= V-row groupBy for the weight gradient. The row count N (the
    gradient scale) rides on the bias row of round 1's collect — no
    separate count() job, and round 1 needs no N up front because the
    update applies AFTER the gradients land. Everything the driver
    ever holds is V + 1 doubles and the row count.

    Dual path (see :mod:`.bounded`). Labeled sets of at most
    ``driver_threshold`` documents (default: as many as fill
    ``bounded.DRIVER_BYTES`` at ``dedup.MEAN_TOKENS`` tokens) whose
    n-grams fit ``bounded.DRIVER_BYTES`` run the same full-batch GD in
    numpy on one bounded Arrow collect of the bucket arrays
    (:func:`_train_driver`): a labeled exemplar set is model-sized by
    construction, and each distributed round is one job of scheduling
    latency. Gradient sums differ from the distributed partial
    aggregation only in summation order (tests pin 1e-9).
    ``driver_threshold=0`` forces the distributed loop.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 1 <= hex_chars <= 4:
        raise ValueError(
            f"hex_chars must be in [1, 4] (literal-array weights), "
            f"got {hex_chars}"
        )
    v = 16 ** hex_chars
    y = F.col(label_col).cast("double")
    doc_arr = track(
        df.filter(F.col(text_col).isNotNull() & F.col(label_col).isNotNull())
        .select(y.alias("_y"), _bucket_array(text_col, n, hex_chars).alias("_ba"))
        .persist()
    )
    local = bounded_collect(
        doc_arr, driver_threshold, "train_text_classifier",
        row_bytes=_GRAM_BYTES * F.size("_ba") + _DOC_BYTES,
    )
    if local is not None:
        doc_arr.unpersist()
        if not local.num_rows:
            raise ValueError(_NO_ROWS)
        return _train_driver(local, v, iters, learning_rate)
    n_rows = None
    weights = [0.0] * (v + 1)
    for _ in range(iters):
        resid = (
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-_logit(F.col("_ba"), weights)))
            - F.col("_y")
        )
        scored = doc_arr.select(F.col("_ba"), resid.alias("_r"))
        # bias gradient + per-bucket gradient in ONE job: explode the
        # instances tagged with a sentinel bias row per doc is wasted
        # rows; instead reduce the bias term with a grouping over a
        # constant and the bucket term with the exploded groupBy —
        # both collapse map-side, and the union keeps it one action.
        grad_rows = (
            scored.select(F.explode("_ba").alias("_b"), "_r")
            .groupBy("_b").agg(
                F.sum("_r").alias("_g"), F.count(F.lit(1)).alias("_n")
            )
            .unionByName(
                scored.agg(
                    F.lit(-1).alias("_b"), F.sum("_r").alias("_g"),
                    F.count(F.lit(1)).alias("_n"),
                )
            )
            .collect()
        )  # bounded: <= V + 1 rows
        if n_rows is None:
            n_rows = next(
                int(row._n) for row in grad_rows if row._b == -1
            )
            if n_rows == 0:
                raise ValueError(_NO_ROWS)
        step = learning_rate / n_rows
        for row in grad_rows:
            idx = 0 if row._b == -1 else row._b + 1
            weights[idx] -= step * float(row._g)
    return weights


def _train_driver(
    local: pa.Table, v: int, iters: int, learning_rate: float
) -> list[float]:
    """Driver-side full-batch GD over the collected ``(_y, _ba)`` table,
    read through the bucket arrays' list offsets and flattened values —
    identical arithmetic to the distributed loop (float64, same update
    rule, same N scaling; summation order differs only the way any
    re-partitioning of the distributed loop would)."""
    ba = local.column("_ba").combine_chunks()
    lens = pc.list_value_length(ba).to_numpy().astype(np.int64)
    flat = ba.flatten().to_numpy().astype(np.int64)
    yv = local.column("_y").to_numpy()
    ends = np.cumsum(lens)
    step = learning_rate / local.num_rows
    w = np.zeros(v + 1)
    for _ in range(iters):
        cs = np.concatenate(([0.0], np.cumsum(w[1:][flat])))
        z = w[0] + (cs[ends] - cs[ends - lens])
        resid = 1.0 / (1.0 + np.exp(-z)) - yv
        gw = np.bincount(flat, weights=np.repeat(resid, lens), minlength=v)
        w[0] -= step * float(resid.sum())
        w[1:] -= step * gw
    return [float(x) for x in w]


def score_text_classifier(
    df: DataFrame,
    weights: list[float],
    text_col: str = "text",
    n: int = 2,
    hex_chars: int = 2,
    out_col: str = "clf_score",
) -> DataFrame:
    """Attach ``sigmoid(bias + sum w[bucket])`` for every row —
    map-only (the weights ride along as a literal array; no join, no
    shuffle, whole-stage codegen end to end). Null text scores NULL.
    """
    if len(weights) != 16 ** hex_chars + 1:
        raise ValueError(
            f"weights must have 16^hex_chars + 1 = {16 ** hex_chars + 1} "
            f"entries, got {len(weights)}"
        )
    z = _logit(_bucket_array(text_col, n, hex_chars), weights)
    score = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("double")
    ).otherwise(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
    return df.withColumn(out_col, score)


def sigmoid(x: float) -> float:
    """Driver-side reference sigmoid (tests)."""
    return 1.0 / (1.0 + math.exp(-x))
