"""Bounded driver path (meta_frame_spark.operators.bounded) and the
dual-path operators built on it: each operator's driver branch must
return exactly what its distributed branch (``driver_threshold=0``)
returns, schema included; the iterative fits (pagerank, logistic
regression) within a stated float tolerance, and
``embedding_contamination``'s exact driver arm every row of its LSH
arm."""

import ast
import logging
from itertools import combinations
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meta_frame_spark.operators import bounded, dedup, graph, similarity
from meta_frame_spark.operators.bounded import bounded_collect
from meta_frame_spark.operators.decontaminate import embedding_contamination
from meta_frame_spark.operators.dedup import dup_clusters, minhash_lsh_dedup
from meta_frame_spark.operators.graph import (
    degree_stats, pagerank, pair_graph_stats, triangle_count,
)
from meta_frame_spark.operators.logreg import train_text_classifier
from meta_frame_spark.operators.similarity import embedding_near_dup_pairs

DOC_SCHEMA = "doc_id bigint, text string"
VEC_SCHEMA = "vec_id bigint, embedding array<float>"
PAIR_SCHEMA = "id_a bigint, id_b bigint"
EDGE_SCHEMA = "src string, dst string, w double"
LABELED_SCHEMA = "id bigint, text string, y int"

#: Edge rows per input kind. Documents: null and empty texts (the empty
#: pair is a Jaccard-1 duplicate), leading whitespace, texts shorter
#: than the shingle size, and (9, 10) at exactly the 0.5 threshold
#: (3-shingle sets {xyz, yzw, zwv} and {xyz, yzw, zwq}). Vectors (dim
#: 4): null, wrong-length and zero vectors, an exact duplicate, and
#: (1, 2) at exactly cosine 0.6 (3/5, exact in binary arithmetic).
EDGE_DOCS = [
    (1, None), (2, None), (3, ""), (4, ""), (5, " the cat sat"),
    (6, "the cat sat"), (7, "a b"), (8, "a b"), (9, "x y z w v"),
    (10, "x y z w q"), (11, "nothing like the others at all"),
]
EDGE_VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]), (2, [3.0, 4.0, 0.0, 0.0]), (3, None),
    (4, [1.0, 0.0, 0.0]), (5, [1.0, 0.0, 0.0, 0.0]), (6, [0.0, 0.0, 0.0, 0.0]),
    (7, [0.0, 1.0, 0.0, 0.0]), (8, [-1.0, 0.0, 0.5, 0.0]),
]
EDGE_PAIRS = [(1, 2), (2, 3), (5, 4), (7, 7), (8, 9), (9, 10), (10, 11)]
#: Weighted graph (string ids): a multi-edge (a, b), a dangling sink
#: e, and an edge from and an edge to a null id and one of null
#: weight, which drop.
EDGE_GRAPH = [
    ("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 3.0),
    ("c", "d", 1.0), ("d", "e", 1.0), (None, "a", 1.0), ("b", None, 1.0),
    ("a", "b", 1.0), ("d", "a", None),
]
#: Integer ids (the fixed-width gate, one collect): a cycle, a
#: self-loop, and a null id at either end.
INT_GRAPH = [(1, 2), (2, 3), (3, 1), (3, None), (None, 4), (4, 4), (4, 1)]
#: Labeled documents: null text, null label, an empty text and texts
#: shorter than the bigram size.
EDGE_LABELED = [
    (1, "good clean prose here", 1), (2, "spam junk noise", 0),
    (3, None, 1), (4, "good prose", None), (5, "", 0), (6, "good", 1),
    (7, "junk", 0), (8, "good junk prose spam", 1),
]
#: 80 documents over a small vocabulary.
MANY_LABELED = [
    (i, "tok%d tok%d tok%d" % (i % 7, i % 3, i % 5), i % 2) for i in range(80)
]
#: 60 identical documents: one bucket of 1,770 pairs in every band.
MEGA_DOCS = [(i, "same boilerplate footer text") for i in range(60)] + EDGE_DOCS[8:]
#: 60 copies of one vector: 1,770 pairs at cosine 1.
MEGA_VECS = [(100 + i, [0.5, 0.5, 0.5, 0.5]) for i in range(60)] + EDGE_VECS


def _minhash(restrict):
    def run(df, **kw):
        return minhash_lsh_dedup(
            df, threshold=0.5, num_hashes=64, num_bands=32, shingle_n=3,
            restrict_to_candidates=restrict, **kw,
        )
    return run


def _emb_edge(df, **kw):
    return embedding_near_dup_pairs(
        df, threshold=0.6, dim=4, planes_per_band=1, num_bands=8, **kw,
    )


def _emb_fixture(df, **kw):
    return embedding_near_dup_pairs(
        df, threshold=0.4, planes_per_band=2, num_bands=32, **kw,
    )


def _pagerank(n_iter=10, **opts):
    def run(df, **kw):
        return pagerank(df, 0.85, n_iter, **opts, **kw)
    return run


def _logreg(**opts):
    """Weights as (index, weight) rows, or the error both branches raise."""
    def run(df, **kw):
        try:
            w = train_text_classifier(df, "y", **opts, **kw)
        except ValueError as e:
            return [(str(e),)]
        return list(enumerate(w))
    return run


def _contamination(bench: str, threshold, **opts):
    """Benchmark: the rows of the corpus matching the SQL ``bench``."""
    def run(df, **kw):
        return embedding_contamination(
            df, df.filter(bench), threshold=threshold, **opts, **kw
        )
    return run


#: The edge vectors plus a null-id copy of vector 1.
CONTAM_EDGE_VECS = EDGE_VECS + [(None, [1.0, 0.0, 0.0, 0.0])]


def _contam_edge(df, **kw):
    return _contamination(
        "vec_id IN (1, 4, 8)", 0.6, dim=4, planes_per_band=1, num_bands=8,
    )(df, **kw)


def _fixture(name):
    def load(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return load


def _fixture_pairs(spark, sf_dir):
    return _minhash(False)(_fixture("documents")(spark, sf_dir))


def _rows(rows, schema):
    return lambda spark, sf_dir: spark.createDataFrame(rows, schema)


def _exact(got, want):
    assert got == want


def _close(tol):
    """Rows equal but for the last value, which may differ by ``tol``."""
    def check(got, want):
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g[:-1] == w[:-1] and abs(g[-1] - w[-1]) <= tol, (g, w)
    return check


def _within(got, want):
    """Every distributed (LSH) row is in the exact driver result."""
    assert set(want) <= set(got), set(want) - set(got)


#: Summation-order noise between numpy and Spark aggregates.
FLOAT_TOL = 1e-9
#: pagerank's eps for the early-stop case (the edge graph's delta
#: falls below it in round 19 of 50). Both branches run one recurrence
#: and stop on different schedules; the earlier stop is at a round
#: whose L1 delta is below eps, and the rounds after it move the ranks
#: by at most eps * d / (1 - d) in L1 (the walk contracts by d a round).
PR_EPS = 1e-4
PR_EPS_TOL = PR_EPS * 0.85 / 0.15 + FLOAT_TOL
ERR_NO_ROWS = ("train_text_classifier: no non-null text and label rows",)


def case(cid, build, run, must_hold=None, compare=_exact):
    """A row the output must hold proves the edge case is exercised."""
    return pytest.param(build, run, must_hold, compare, id=cid)


CASES = [
    case("minhash-edge", _rows(EDGE_DOCS, DOC_SCHEMA), _minhash(False), (9, 10, 0.5)),
    case("minhash-restrict-edge", _rows(EDGE_DOCS, DOC_SCHEMA), _minhash(True), (3, 4, 1.0)),
    case("minhash-single", _rows(EDGE_DOCS[4:5], DOC_SCHEMA), _minhash(False)),
    case("minhash-empty", _rows([], DOC_SCHEMA), _minhash(False)),
    case("minhash-fixture", _fixture("documents"), _minhash(False)),
    case("minhash-mega-bucket", _rows(MEGA_DOCS, DOC_SCHEMA), _minhash(False), (0, 59, 1.0)),
    case("emb-edge", _rows(EDGE_VECS, VEC_SCHEMA), _emb_edge, (1, 2, 0.6)),
    case("emb-single", _rows(EDGE_VECS[:1], VEC_SCHEMA), _emb_edge),
    case("emb-empty", _rows([], VEC_SCHEMA), _emb_edge),
    case("emb-fixture", _fixture("embeddings"), _emb_fixture),
    case("emb-mega-cluster", _rows(MEGA_VECS, VEC_SCHEMA), _emb_edge, (100, 159, 1.0)),
    case("clusters-edge", _rows(EDGE_PAIRS, PAIR_SCHEMA), dup_clusters, (7, 7)),
    case("clusters-single", _rows(EDGE_PAIRS[:1], PAIR_SCHEMA), dup_clusters, (2, 1)),
    case("clusters-empty", _rows([], PAIR_SCHEMA), dup_clusters),
    case("clusters-fixture", _fixture_pairs, dup_clusters),
    case("pagerank-weighted", _rows(EDGE_GRAPH, EDGE_SCHEMA),
         _pagerank(weight_col="w"), compare=_close(FLOAT_TOL)),
    case("pagerank-multi-edge", _rows(EDGE_GRAPH, EDGE_SCHEMA), _pagerank(),
         compare=_close(FLOAT_TOL)),
    case("pagerank-teleport", _rows(EDGE_GRAPH, EDGE_SCHEMA),
         _pagerank(weight_col="w", teleport_to=["c", "c", "not-a-node"]),
         compare=_close(FLOAT_TOL)),
    case("pagerank-eps", _rows(EDGE_GRAPH, EDGE_SCHEMA),
         _pagerank(50, weight_col="w", eps=PR_EPS), compare=_close(PR_EPS_TOL)),
    case("pagerank-int-ids", _rows(INT_GRAPH, "src bigint, dst bigint"),
         _pagerank(teleport_to=[4]), compare=_close(FLOAT_TOL)),
    case("pagerank-single", _rows(EDGE_GRAPH[:1], EDGE_SCHEMA), _pagerank(),
         compare=_close(FLOAT_TOL)),
    case("pagerank-empty", _rows([], EDGE_SCHEMA), _pagerank()),
    case("logreg-edge", _rows(EDGE_LABELED, LABELED_SCHEMA),
         _logreg(n=2, hex_chars=1, iters=3), compare=_close(FLOAT_TOL)),
    case("logreg-80-docs", _rows(MANY_LABELED, LABELED_SCHEMA),
         _logreg(n=2, hex_chars=2, iters=2), compare=_close(FLOAT_TOL)),
    case("logreg-empty", _rows([], LABELED_SCHEMA), _logreg(), ERR_NO_ROWS),
    case("logreg-all-null", _rows(EDGE_LABELED[2:4], LABELED_SCHEMA), _logreg(),
         ERR_NO_ROWS),
    case("contamination-edge", _rows(CONTAM_EDGE_VECS, VEC_SCHEMA),
         _contam_edge, (None, 1, 1.0), _within),
    case("contamination-empty", _rows([], VEC_SCHEMA), _contam_edge),
    case("contamination-fixture", _fixture("embeddings"),
         _contamination("vec_id % 37 = 0", 0.9)),
]


def _sorted_rows(out):
    rows = out.collect() if isinstance(out, DataFrame) else out
    return sorted((tuple(r) for r in rows), key=lambda r: [(v is None, v) for v in r])


@pytest.mark.parametrize("build,run,must_hold,compare", CASES)
def test_driver_branch_equals_distributed(
    spark, sf_dir, caplog, build, run, must_hold, compare
):
    df = build(spark, sf_dir)
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        driver = run(df)
    assert any(": driver path," in m for m in caplog.messages), caplog.messages
    distributed = run(df, driver_threshold=0)
    if isinstance(driver, DataFrame):
        assert driver.schema == distributed.schema
    got, want = _sorted_rows(driver), _sorted_rows(distributed)
    compare(got, want)
    if must_hold is not None:
        assert must_hold in got


@pytest.mark.parametrize("build,run,must_hold", [
    # (2, 1, 0.6): cosine exactly at the threshold
    (_rows(CONTAM_EDGE_VECS, VEC_SCHEMA), _contam_edge, [(None, 1, 1.0), (2, 1, 0.6)]),
    (_fixture("embeddings"), _contamination("vec_id % 37 = 0", 0.9), []),
], ids=["edge", "fixture"])
def test_contamination_exact_arm_blocks_batch_rows(
    spark, sf_dir, monkeypatch, build, run, must_hold
):
    """Blocks of one row each (two similarities a block) score every
    Arrow batch as the default single block does."""
    df = build(spark, sf_dir)
    want = _sorted_rows(run(df))
    monkeypatch.setattr(similarity, "_GRAM_BLOCK", 2)
    got = _sorted_rows(run(df))
    assert got == want
    assert len(got) > 1 and all(r in got for r in must_hold)


def test_bounded_collect_logs_each_branch(spark, caplog, monkeypatch):
    df = spark.range(5)
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        table = bounded_collect(df, 10, "op_a")
        assert bounded_collect(df, 4, "op_b") is None
        assert bounded_collect(df, 4, "op_b", row_bytes=F.lit(1)) is None
        assert bounded_collect(df, 0, "op_c") is None
        monkeypatch.setattr(bounded, "DRIVER_BYTES", 39)
        assert bounded_collect(df, 10, "op_d") is None
        monkeypatch.setattr(bounded, "DRIVER_BYTES", 40)
        assert bounded_collect(df, 10, "op_e", row_bytes=F.col("id") * 4) == table
        assert bounded_collect(df, 10, "op_f", row_bytes=F.col("id") * 4 + 1) is None
    assert table.column("id").to_pylist() == [0, 1, 2, 3, 4]
    assert caplog.messages == [
        "op_a: driver path, 5 rows <= 10",
        "op_b: distributed path, > 4 rows",
        "op_b: distributed path, > 4 rows",
        "op_c: distributed path, driver_threshold=0",
        "op_d: distributed path, 5 rows hold 40 bytes > 39",
        "op_e: driver path, 5 rows <= 10",
        "op_f: distributed path, 5 rows need 45 bytes > 40",
    ]


def test_operator_logs_branch_with_size(spark, caplog):
    docs = spark.createDataFrame(EDGE_DOCS, DOC_SCHEMA)
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        minhash_lsh_dedup(docs, driver_threshold=20)
        minhash_lsh_dedup(docs, driver_threshold=5)
    assert caplog.messages == [
        "minhash_lsh_dedup: driver path, 11 rows <= 20",
        "minhash_lsh_dedup: distributed path, > 5 rows",
    ]


def test_driver_branch_starts_no_python_worker(spark):
    """The driver branch's result plan is a local relation plus the
    Spark-side round: no Python UDF, no exchange."""
    docs = spark.createDataFrame(EDGE_DOCS, DOC_SCHEMA)
    vecs = spark.createDataFrame(EDGE_VECS, VEC_SCHEMA)
    for out in (minhash_lsh_dedup(docs), _emb_edge(vecs)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Exchange" not in plan, plan


def test_minhash_gate_bounds_bytes_before_collecting(spark, caplog, monkeypatch):
    """Long documents over the byte budget take the distributed branch
    after a gate that collects only per-row sizes: the token hashes
    never reach the driver."""
    text = " ".join(f"w{i}" for i in range(2000))
    docs = spark.createDataFrame([(i, text) for i in range(10)], DOC_SCHEMA)
    monkeypatch.setattr(bounded, "DRIVER_BYTES", 100_000)  # each doc needs ~32 KB
    collected = []
    to_arrow = type(docs).toArrow

    def recording(self):
        table = to_arrow(self)
        collected.append(table.column_names)
        return table

    monkeypatch.setattr(type(docs), "toArrow", recording)
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        out = _minhash(False)(docs)
    assert collected == [["_bytes"]]
    assert caplog.messages == [
        f"minhash_lsh_dedup: distributed path, 10 rows need "
        f"{10 * (16 * 2000 + 8 * 64 + dedup._DOC_OVERHEAD)} bytes > 100000"
    ]
    assert out.count() == 45  # every pair of the ten identical documents


def test_minhash_mega_bucket_over_pair_cap_goes_distributed(spark, caplog, monkeypatch):
    docs = spark.createDataFrame(MEGA_DOCS, DOC_SCHEMA)
    monkeypatch.setattr(dedup, "PAIR_CAP", 1_000)  # the bucket holds 1,770 a band
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        got = sorted(tuple(r) for r in _minhash(False)(docs).collect())
    assert caplog.messages == [
        f"minhash_lsh_dedup: driver path, {len(MEGA_DOCS)} rows <= {dedup.DOC_CAP}",
        "minhash_lsh_dedup: distributed path, band buckets hold > 1000 pairs",
    ]
    want = sorted(tuple(r) for r in _minhash(False)(docs, driver_threshold=0).collect())
    assert got == want and (0, 59, 1.0) in got


def test_emb_mega_cluster_over_pair_cap_goes_distributed(spark, caplog, monkeypatch):
    vecs = spark.createDataFrame(MEGA_VECS, VEC_SCHEMA)
    monkeypatch.setattr(similarity, "PAIR_CAP", 1_000)  # the copies give 1,770
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        got = sorted(tuple(r) for r in _emb_edge(vecs).collect())
    assert caplog.messages[1:] == [
        "embedding_near_dup_pairs: distributed path, > 1000 pairs",
    ]
    want = sorted(tuple(r) for r in _emb_edge(vecs, driver_threshold=0).collect())
    assert got == want and (100, 159, 1.0) in got


def test_minhash_pair_cap_counts_buckets_before_building_pairs():
    """30,000 identical documents (4.5e8 pairs a band) are declined from
    the bucket sizes alone, without building a pair."""
    n = 30_000
    hashes = pa.array([[11, 22, 33, 44]] * n, type=pa.list_(pa.int64()))
    assert dedup._minhash_pairs_np(hashes, 64, 32, 3, 0.5, 42, dedup.PAIR_CAP) is None
    found = dedup._minhash_pairs_np(hashes.slice(0, 50), 64, 32, 3, 0.5, 42, dedup.PAIR_CAP)
    assert len(found[0]) == 50 * 49 // 2 and set(found[2]) == {1.0}


def test_bucket_pairs_lists_every_pair_sharing_a_key():
    keys = np.random.default_rng(3).integers(0, 40, 300).astype(np.int32)
    i, j = dedup._bucket_pairs(keys)
    want = {(x, y) for x, y in combinations(range(len(keys)), 2) if keys[x] == keys[y]}
    assert len(i) == len(want) and set(zip(i.tolist(), j.tolist())) == want


def test_band_keys_match_spark_hash(spark):
    """The driver branch's bucket key is Spark's ``hash`` of the band."""
    rng = np.random.default_rng(5)
    m = rng.integers(-(1 << 63), (1 << 63) - 1, size=(200, 3), dtype=np.int64)
    m[0] = [0, -1, (1 << 63) - 1]
    m[1] = [-(1 << 63), 1, (1 << 31) - 1]
    df = spark.createDataFrame([(i, row.tolist()) for i, row in enumerate(m)],
                               "i int, band array<bigint>")
    want = [r[0] for r in df.orderBy("i").select(F.hash("band")).collect()]
    assert dedup._spark_hash_rows(m).tolist() == want


#: (case id, pairs, the expected (cluster, n_nodes) census)
CENSUS_CASES = [
    ("chain", [(4, 3), (3, 2), (1, 2)], [(1, 4)]),
    ("star", [(10, 11), (10, 12), (13, 10), (10, 14)], [(10, 5)]),
    ("single", [(6, 5)], [(5, 2)]),
]


@pytest.mark.parametrize(
    "pairs,want", [c[1:] for c in CENSUS_CASES], ids=[c[0] for c in CENSUS_CASES]
)
def test_dup_cluster_sizes_driver_rollup_equals_distributed_census(spark, caplog, pairs, want):
    """The driver rollup equals the distributed branch, which is
    ``dup_clusters(pairs, driver_threshold=0).groupBy("cluster")`` plus
    a count."""
    df = spark.createDataFrame(pairs, PAIR_SCHEMA)
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        got = sorted(tuple(r) for r in dedup.dup_cluster_sizes(df).collect())
        census = dedup.dup_cluster_sizes(df, driver_threshold=0)
        dist = sorted(tuple(r) for r in census.collect())
    assert "dup_cluster_sizes: driver path, %d rows <= 100000" % len(pairs) in caplog.messages
    assert "dup_cluster_sizes: distributed path, driver_threshold=0" in caplog.messages
    assert census.columns == ["cluster", "n_nodes"]
    assert got == dist == want


@pytest.mark.parametrize("op", [dup_clusters, dedup.dup_cluster_sizes])
def test_union_find_null_id_names_the_operator(spark, op):
    df = spark.createDataFrame([(1, 2), (2, None)], PAIR_SCHEMA)
    with pytest.raises(ValueError, match=f"^{op.__name__}: null id"):
        op(df)


#: (case id, pairs) for the pair-graph census: reversed and repeated
#: pairs, a self-loop, a null end, a K4 (four triangles), empty.
GRAPH_STATS_CASES = [
    ("k4-plus-tail", [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]),
    ("reversed-and-self", [(1, 2), (2, 1), (2, 3), (3, 1), (3, 3), (1, 2)]),
    ("null-ends", [(1, 2), (2, None), (None, None), (None, 3)]),
    ("empty", []),
]


@pytest.mark.parametrize(
    "pairs", [c[1] for c in GRAPH_STATS_CASES], ids=[c[0] for c in GRAPH_STATS_CASES]
)
def test_pair_graph_stats_equals_graph_operators(spark, caplog, monkeypatch, pairs):
    """Both branches of the census equal ``degree_stats`` crossed with
    ``triangle_count`` on the same edges."""
    df = spark.createDataFrame(pairs, PAIR_SCHEMA)
    e = df.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    want = [tuple(r) for r in degree_stats(e).crossJoin(triangle_count(e)).collect()]
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        driver = pair_graph_stats(df)
        monkeypatch.setattr(graph, "UNION_FIND_CAP", 0)
        distributed = pair_graph_stats(df)
    assert caplog.messages == [
        f"pair_graph_stats: driver path, {len(pairs)} rows <= {dedup.UNION_FIND_CAP}",
        "pair_graph_stats: distributed path, driver_threshold=0",
    ]
    assert driver.columns == distributed.columns == [
        "n_nodes", "n_edges", "max_degree", "avg_degree", "n_triangles"
    ]
    assert [tuple(r) for r in driver.collect()] == want
    assert [tuple(r) for r in distributed.collect()] == want


@pytest.mark.parametrize("op", [
    lambda pairs: dup_clusters(pairs, driver_threshold=1),
    lambda pairs: dedup.dup_cluster_sizes(pairs, driver_threshold=1),
    pair_graph_stats,
], ids=["dup_clusters", "dup_cluster_sizes", "pair_graph_stats"])
def test_pair_gate_runs_the_upstream_once(spark, caplog, monkeypatch, op):
    """Above the cap (not 0, which runs no gate job) the gate's job and
    the distributed branch read one persisted pair frame: the upstream's
    work, a Python UDF counting its rows before a shuffle, runs once."""
    monkeypatch.setattr(graph, "UNION_FIND_CAP", 1)
    seen = spark.sparkContext.accumulator(0)

    @F.udf("bigint")
    def tick(x):
        seen.add(1)
        return x

    docs = spark.range(40, numPartitions=4).select(tick("id").alias("id"))
    # 20 pairs (k, k + 20)
    pairs = docs.groupBy((F.col("id") % 20).alias("id_a")).agg(F.max("id").alias("id_b"))
    with caplog.at_level(logging.INFO, logger="meta_frame_spark.operators.bounded"):
        op(pairs).collect()
    assert any("distributed path, > 1 rows" in m for m in caplog.messages)
    assert seen.value == 40


def test_registry_collects_nothing():
    """The query registry composes operators: every driver collect goes
    through an operator's bounded gate."""
    entry = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    banned = {"collect", "toArrow", "toPandas", "bounded_collect"}
    calls = [
        (node.lineno, name)
        for node in ast.walk(ast.parse(entry.read_text()))
        if isinstance(node, ast.Call)
        for name in [getattr(node.func, "attr", getattr(node.func, "id", None))]
        if name in banned
    ]
    assert calls == []
