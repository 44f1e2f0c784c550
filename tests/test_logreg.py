"""Hashed-feature logistic regression (operators/logreg.py)."""

import hashlib
import math


def _bucket(tok: str, hex_chars: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:hex_chars], 16)


def _reference_fit(docs, labels, hex_chars=1, iters=2, lr=1.0):
    """Pure-python replica of train_text_classifier for unigrams."""
    v = 16 ** hex_chars
    feats = [
        [_bucket(t, hex_chars) for t in text.lower().split()]
        for text in docs
    ]
    w = [0.0] * (v + 1)  # [bias, w_0..]
    n = len(docs)
    for _ in range(iters):
        grad = [0.0] * (v + 1)
        for buckets, y in zip(feats, labels):
            z = w[0] + sum(w[b + 1] for b in buckets)
            p = 1.0 / (1.0 + math.exp(-z))
            grad[0] += p - y
            for b in buckets:
                grad[b + 1] += p - y
        for i in range(v + 1):
            w[i] -= lr / n * grad[i]
    return w


def test_train_matches_pure_python_reference(spark):
    from meta_frame_spark.operators.logreg import train_text_classifier

    docs = [
        "alpha alpha beta", "alpha gamma", "beta beta",
        "delta beta gamma", "alpha alpha",
    ]
    labels = [1, 1, 0, 0, 1]
    df = spark.createDataFrame(
        list(zip(range(5), docs, labels)), ["id", "text", "y"]
    )
    got = train_text_classifier(
        df, "y", n=1, hex_chars=1, iters=2, learning_rate=1.0
    )
    want = _reference_fit(docs, labels, hex_chars=1, iters=2, lr=1.0)
    assert len(got) == 17
    assert all(abs(a - b) < 1e-9 for a, b in zip(got, want))


def test_train_deterministic_under_partitioning(spark):
    from meta_frame_spark.operators.logreg import train_text_classifier

    rows = [
        (i, "tok%d tok%d tok%d" % (i % 7, i % 3, i % 5), i % 2)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["id", "text", "y"])
    a = train_text_classifier(df, "y", n=2, hex_chars=2, iters=2)
    b = train_text_classifier(df.repartition(13), "y", n=2, hex_chars=2,
                              iters=2)
    # full-batch GD is a pure function of the set; tiny fp jitter from
    # partial-aggregation order is allowed, bit-equality is not required
    assert len(a) == len(b) == 257
    assert all(abs(x - y) < 1e-9 for x, y in zip(a, b))


def test_score_separates_and_is_map_only(spark):
    from pyspark.sql import functions as F

    from meta_frame_spark.operators.logreg import (
        score_text_classifier,
        train_text_classifier,
    )

    # pos class: "good" vocabulary; neg class: disjoint vocabulary
    rows = [(i, "good clean prose here", 1) for i in range(30)]
    rows += [(i + 30, "spam junk noise blob", 0) for i in range(30)]
    df = spark.createDataFrame(rows, ["id", "text", "y"])
    w = train_text_classifier(df, "y", n=1, hex_chars=2, iters=3)
    scored = score_text_classifier(df, w, n=1, hex_chars=2)
    out = {r.id: r.clf_score for r in scored.collect()}
    assert min(out[i] for i in range(30)) > max(
        out[i + 30] for i in range(30)
    )
    # scoring is map-only: no exchange anywhere in the physical plan
    plan = scored._sc._jvm.PythonSQLUtils.explainString(
        scored._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    # null text scores NULL
    ndf = spark.createDataFrame([(1, None)], "id long, text string")
    assert score_text_classifier(ndf, w, n=1, hex_chars=2).first().clf_score is None


def test_validation_errors(spark):
    import pytest

    from meta_frame_spark.operators.logreg import (
        score_text_classifier,
        train_text_classifier,
    )

    df = spark.createDataFrame([(1, "x", 1)], ["id", "text", "y"])
    with pytest.raises(ValueError, match="iters"):
        train_text_classifier(df, "y", iters=0)
    with pytest.raises(ValueError, match="hex_chars"):
        train_text_classifier(df, "y", hex_chars=5)
    with pytest.raises(ValueError, match="weights"):
        score_text_classifier(df, [0.0] * 5, hex_chars=2)
    empty = spark.createDataFrame([(1, None, 1)], "id long, text string, y long")
    with pytest.raises(ValueError, match="no non-null"):
        train_text_classifier(empty, "y")
