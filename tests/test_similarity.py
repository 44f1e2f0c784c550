"""Similarity search + dedup operators (SURVEY.md §7.1 step 6b/6c)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from meta_frame_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    srp_lsh_topk,
)
from meta_frame_spark.operators.dedup import (
    exact_dedup,
    drop_exact_duplicates,
    minhash_lsh_dedup,
    simhash_dup_groups,
)


def test_brute_force_topk_matches_numpy(spark, embeddings):
    k = 5
    queries = embeddings.filter(F.col("vec_id") < 5)
    got = brute_force_topk(embeddings, queries, k=k).collect()

    rows = embeddings.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append((r.rank, r.neighbor_id))
    assert set(by_query) == {0, 1, 2, 3, 4}
    for qid, pairs in by_query.items():
        qi = int(np.where(ids == qid)[0][0])
        sims = mat_n @ mat_n[qi]
        sims[qi] = -np.inf  # exclude self
        expect = ids[np.argsort(-sims, kind="stable")][:k].tolist()
        gotlist = [nid for _, nid in sorted(pairs)]
        assert gotlist == expect, f"query {qid}: {gotlist} != {expect}"


def test_srp_lsh_topk_recall(spark, embeddings):
    """LSH top-k should recover most of the exact top-k (recall >= 0.6
    with 8 bands x 8 planes on 500 x 64-dim vectors)."""
    k = 5
    queries = embeddings.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(embeddings, queries, k=k).collect()
    approx = srp_lsh_topk(embeddings, queries, k=k).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"recall {recall:.2f}"


def test_embedding_near_dup_symmetric_canonical(spark, embeddings):
    pairs = embedding_near_dup_pairs(embeddings, threshold=0.5).collect()
    for r in pairs:
        assert r.id_a < r.id_b
        assert r.cosine >= 0.5


def test_exact_dedup_counts(spark, documents):
    out = exact_dedup(documents, key_cols=["text"], id_col="doc_id")
    assert out.count() == documents.select("text").distinct().count()
    survivors = drop_exact_duplicates(documents, ["text"], "doc_id")
    assert survivors.count() == out.count()
    assert survivors.columns == documents.columns


def test_minhash_lsh_finds_planted_dup(spark, documents):
    """Plant a near-duplicate of doc 0 and check LSH+Jaccard finds it."""
    base = documents.limit(50)
    r0 = base.filter(F.col("doc_id") == 0).collect()[0]
    words = r0.text.split()
    words[len(words) // 2] = "XDUPX"  # one-word change
    dup = spark.createDataFrame(
        [(99999, " ".join(words), r0.lang, r0.source, len(r0.text))],
        schema=base.schema,
    )
    cand = base.union(dup)
    pairs = minhash_lsh_dedup(
        cand, threshold=0.5, num_hashes=64, num_bands=16, shingle_n=3
    ).collect()
    assert any({p.id_a, p.id_b} == {0, 99999} for p in pairs), pairs


def test_simhash_identical_docs_collide(spark, documents):
    base = documents.limit(30)
    clone = base.withColumn("doc_id", F.col("doc_id") + 100000)
    groups = simhash_dup_groups(base.union(clone)).collect()
    # every doc now has an identical twin -> every simhash value present
    # is a dup group (distinct base docs may also collide: tiny vocab)
    from meta_frame_spark.operators.dedup import simhash

    n_distinct = len({r.simhash for r in simhash(base).collect()})
    assert len(groups) == n_distinct
    assert all(g.n_members >= 2 for g in groups)


def test_ivf_topk_recall(spark, embeddings):
    """IVF with 8 cells / 4 probes (half the corpus scanned) should
    recover most of the exact top-k."""
    from meta_frame_spark.operators.similarity import ivf_topk

    k = 5
    queries = embeddings.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(embeddings, queries, k=k).collect()
    approx = ivf_topk(embeddings, queries, k=k, n_cells=8, n_probe=4).collect()
    e = {(r.query_id, r.neighbor_id) for r in exact}
    a = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall {recall}"
    # per-query result size never exceeds k
    from collections import Counter
    assert max(Counter(r.query_id for r in approx).values()) <= k


def test_dup_clusters_transitive(spark):
    """Chains merge transitively: 1-2, 2-3 one cluster; 4-5 another."""
    from meta_frame_spark.operators.dedup import drop_near_duplicates, dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (8, 9), (9, 10), (10, 11)],
        "id_a bigint, id_b bigint",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 8: 8, 9: 8, 10: 8, 11: 8}
    # small graphs take the bounded union-find shortcut by default;
    # driver_threshold=0 forces the distributed label-propagation loop.
    # Both paths must agree exactly.
    got_uf = {r.node: r.cluster for r in dup_clusters(pairs).collect()}
    got_dist = {r.node: r.cluster
                for r in dup_clusters(pairs, driver_threshold=0).collect()}
    # a pair count ABOVE a nonzero threshold must fall through the
    # persist+count probe to the distributed loop (r15: the probe
    # replaced a limit(n+1).collect() take-ramp)
    got_over = {r.node: r.cluster
                for r in dup_clusters(pairs, driver_threshold=2).collect()}
    assert got_uf == expected
    assert got_dist == expected
    assert got_over == expected

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(12)], "doc_id bigint, text string"
    )
    kept = sorted(r.doc_id for r in drop_near_duplicates(docs, pairs).collect())
    assert kept == [0, 1, 4, 6, 7, 8]  # cluster minima + untouched docs


def test_null_text_does_not_crash_dedup(spark):
    """Regression: a NULL text row must null-propagate through minhash,
    simhash and the LSH pipeline, not crash the numpy UDFs."""
    from meta_frame_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_signatures,
        simhash,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the dog"),
         (2, None),
         (3, "the quick brown fox jumps over the dog")],
        "doc_id bigint, text string",
    )
    sigs = {r.doc_id: r.signature for r in minhash_signatures(df, shingle_n=3).collect()}
    assert sigs[2] is None and sigs[1] == sigs[3]
    sh = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert sh[2] == 0 and sh[1] == sh[3]
    pairs = minhash_lsh_dedup(df, shingle_n=3, threshold=0.5).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 3)}


def test_null_embedding_does_not_crash_similarity(spark, embeddings):
    """Regression: NULL / wrong-length vectors are dropped, not fatal."""
    from pyspark.sql import types as T

    from meta_frame_spark.operators.similarity import embedding_near_dup_pairs, srp_lsh_topk

    bad = spark.createDataFrame(
        [(990001, None), (990002, [1.0, 2.0])],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]),
    )
    corpus = embeddings.select("vec_id", "embedding").unionByName(bad)
    out = srp_lsh_topk(corpus, corpus.filter(F.col("vec_id") < 5), k=3)
    assert out.count() > 0
    assert out.filter(F.col("neighbor_id") >= 990001).count() == 0
    nd = embedding_near_dup_pairs(corpus, threshold=0.99)
    assert nd.filter(F.col("id_a") >= 990001).count() == 0


def test_hard_negatives_excludes_positives_before_topk(spark):
    from meta_frame_spark.operators.similarity import hard_negatives

    # 1 query (id 0) + 4 corpus vectors on distinct directions; ids 1,2
    # are positives and MORE similar than 3,4 — exclusion must happen
    # before the top-k, so the negatives are 3 then 4.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.95, 0.2, 0.0, 0.0]),
        (3, [0.5, 0.8, 0.0, 0.0]),
        (4, [0.1, 0.9, 0.4, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = emb.filter("vec_id = 0")
    pos = spark.createDataFrame([(0, 1), (0, 2)], "query_id bigint, neighbor_id bigint")
    got = hard_negatives(emb, q, pos, k=2, vec_col="embedding")
    assert sorted((r.query_id, r.neighbor_id, r.rank) for r in got.collect()) == [
        (0, 3, 1), (0, 4, 2),
    ]


def test_hard_negatives_candidates_path_matches_exact(spark, embeddings):
    """Restricting scoring to a candidate list containing the true
    top-k gives identical output to the exact path."""
    from meta_frame_spark.operators.similarity import brute_force_topk, hard_negatives
    from pyspark.sql import functions as F

    q = embeddings.filter(F.col("vec_id") < 3)
    pos = brute_force_topk(embeddings, q, k=2)  # 2 nearest are "positives"
    exact = hard_negatives(embeddings, q, pos.select("query_id", "neighbor_id"), k=3)
    # oversampled candidates: top-10 exact neighbors per query
    cands = brute_force_topk(embeddings, q, k=10).select("query_id", "neighbor_id")
    via_cands = hard_negatives(
        embeddings, q, pos.select("query_id", "neighbor_id"), k=3, candidates=cands
    )
    key = lambda df: sorted((r.query_id, r.neighbor_id, r.rank) for r in df.collect())
    assert key(exact) == key(via_cands)


def test_group_centroids_elementwise_mean(spark):
    from meta_frame_spark.operators.similarity import group_centroids

    rows = [
        ("a", [1.0, 2.0, 3.0]), ("a", [3.0, 4.0, 5.0]),
        ("b", [10.0, 0.0, -2.0]),
    ]
    df = spark.createDataFrame(rows, "label string, embedding array<double>")
    got = {(r.label, r.pos): r.mean_val
           for r in group_centroids(df, ["label"]).collect()}
    assert got[("a", 0)] == 2.0 and got[("a", 1)] == 3.0 and got[("a", 2)] == 4.0
    assert got[("b", 0)] == 10.0 and got[("b", 2)] == -2.0


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_emb_near_dup_exact_oracle_recall_at_shipped_scales(spark, sf_dir):
    """q_emb_near_dup ships a data-dependent EXACT oracle: its 64-band
    SRP-LSH candidate stage must reach recall 1.0 vs all-pairs cosine at
    every scale the driver checks/benches, or the CORRECTNESS row flips
    on the next data regen (ADVICE r2/r3). This pins it: any regen that
    introduces missed pairs fails here first, before the driver run."""
    import os

    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        pytest.skip(f"no testdata at {sf_dir}")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4, num_bands=64).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    iu, ju = np.triu_indices(len(ids), k=1)
    hits = sims[iu, ju] >= 0.4
    expect = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[hits]], ids[ju[hits]])
    }
    assert got == expect, (
        f"LSH candidate stage no longer exact at {sf_dir}: "
        f"missed={sorted(expect - got)[:5]} extra={sorted(got - expect)[:5]}"
    )


def test_embedding_outliers_flags_planted_stray(spark):
    import numpy as np

    from meta_frame_spark.operators.similarity import embedding_outliers

    rng = np.random.default_rng(7)
    rows = [(i, (rng.normal(0, 0.05, 8)).astype("float32").tolist())
            for i in range(100)]
    rows.append((999, [25.0] * 8))  # broken-encoder stray, far away
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_outliers(df, z_threshold=2.0).collect()
    flagged = {r.vec_id for r in out}
    assert 999 in flagged
    assert len(flagged) < 10  # the tight cloud mostly passes
    stray = next(r for r in out if r.vec_id == 999)
    assert stray.z > 2.0 and stray.dist > 10


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_match_per_window_slice_form(spark, n):
    """_shingles zips n shifted slices of the token array (linear in
    tokens); it must equal the per-window form it replaced, which
    sliced the split array once per window, on every edge row."""
    from meta_frame_spark.operators.dedup import _shingles

    def per_window(col, n):
        tokens = F.split(F.lower(F.col(col)), r"\s+")
        k = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
        )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  Lead space"), (4, "a"), (5, "a b"),
         (6, "The cat sat on the mat"), (7, "trailing  space  "), (8, "x\ty\nz w")],
        "id int, text string",
    )
    rows = df.select("id", _shingles("text", n).alias("new"),
                     per_window("text", n).alias("old")).collect()
    assert all(r.new == r.old for r in rows), [r for r in rows if r.new != r.old]
    assert rows[0].new == [""]
