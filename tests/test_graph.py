"""PageRank power iteration, graph census, triangle counting."""

import pytest

from meta_frame_spark.operators.graph import degree_stats, pagerank, triangle_count


def _py_pagerank(edges, damping=0.85, n_iter=10):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    n = len(nodes)
    out = {}
    for a, _ in edges:
        out[a] = out.get(a, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        contrib = {v: 0.0 for v in nodes}
        for a, b in edges:
            contrib[b] += rank[a] / out[a]
        dangling = sum(rank[v] for v in nodes if v not in out)
        rank = {
            v: (1 - damping) / n + damping * (contrib[v] + dangling / n)
            for v in nodes
        }
    return rank


EDGES = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")]


def test_matches_reference_implementation(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, 0.85, 10).collect()}
    want = _py_pagerank(EDGES, 0.85, 10)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])


def test_eps_early_stop_matches_fixed_rounds(spark):
    """eps turns n_iter into a max: on a fast-mixing graph the
    early-stopped ranks equal the fixed-10-round ranks to well inside
    the contraction bound eps*d/(1-d), and a huge eps stops after one
    round (ranks = the round-1 vector, not the fixed point)."""
    df = spark.createDataFrame(EDGES, "src string, dst string")
    fixed = {r.node: r.rank for r in pagerank(df, 0.85, 10).collect()}
    early = {r.node: r.rank for r in pagerank(df, 0.85, 10, eps=1e-9).collect()}
    assert set(early) == set(fixed)
    for v in fixed:
        assert abs(early[v] - fixed[v]) < 1e-8, (v, early[v], fixed[v])
    one_round = {
        r.node: r.rank for r in pagerank(df, 0.85, 10, eps=1e9).collect()
    }
    want1 = _py_pagerank(EDGES, 0.85, 1)
    for v in want1:
        assert abs(one_round[v] - want1[v]) < 1e-12


def test_ranks_sum_to_one_with_dangling(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    ranks = pagerank(df, 0.85, 5).collect()
    assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-9
    # the sink 'd' accumulates; the source 'a' only gets dangling+teleport
    got = {r.node: r.rank for r in ranks}
    assert got["c"] > got["a"] and got["d"] > got["a"]


def test_weighted_matches_reference(spark):
    """Weight 3 on a->b vs 1 on a->c: b receives 3x the passed rank."""
    wedges = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)]

    def py_weighted(edges, damping=0.85, n_iter=10):
        nodes = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
        n = len(nodes)
        out = {}
        for a, _, w in edges:
            out[a] = out.get(a, 0.0) + w
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(n_iter):
            contrib = {v: 0.0 for v in nodes}
            for a, b, w in edges:
                contrib[b] += rank[a] * w / out[a]
            dangling = sum(rank[v] for v in nodes if v not in out)
            rank = {
                v: (1 - damping) / n + damping * (contrib[v] + dangling / n)
                for v in nodes
            }
        return rank

    df = spark.createDataFrame(wedges, "src string, dst string, w double")
    got = {r.node: r.rank for r in pagerank(df, 0.85, 10, weight_col="w").collect()}
    want = py_weighted(wedges)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    assert got["b"] > got["c"]


def test_personalized_matches_reference(spark):
    """Teleport to {a}: start, teleport, and dangling mass all land on
    the seed; the pure-Python twin uses the identical recurrence."""
    def py_ppr(edges, seeds, damping=0.85, n_iter=10):
        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        out = {}
        for a, _ in edges:
            out[a] = out.get(a, 0) + 1
        t = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
        rank = dict(t)
        for _ in range(n_iter):
            contrib = {v: 0.0 for v in nodes}
            for a, b in edges:
                contrib[b] += rank[a] / out[a]
            dangling = sum(rank[v] for v in nodes if v not in out)
            rank = {
                v: (1 - damping) * t[v]
                + damping * (contrib[v] + dangling * t[v])
                for v in nodes
            }
        return rank

    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r.node: r.rank
        for r in pagerank(df, 0.85, 10, teleport_to=["a"]).collect()
    }
    want = py_ppr(EDGES, {"a"})
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    # the non-seed source 'd' is a sink: reachable mass but no teleport
    assert got["a"] > 0 and abs(sum(got.values()) - 1.0) < 1e-9
    with pytest.raises(ValueError):
        pagerank(df, teleport_to=[])


def test_personalized_partial_and_duplicate_seeds_sum_to_one(spark):
    """ADVICE r5 (graph.py:118): a seed list with duplicates and
    out-of-graph entries must normalize over the DISTINCT IN-GRAPH
    seeds — ranks still sum to 1 instead of silently decaying by
    present/len."""
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r.node: r.rank
        for r in pagerank(
            df, 0.85, 10, teleport_to=["a", "a", "zzz_not_a_node"]
        ).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # identical to the clean single-seed run: the junk entries are inert
    clean = {
        r.node: r.rank
        for r in pagerank(df, 0.85, 10, teleport_to=["a"]).collect()
    }
    for v in clean:
        assert abs(got[v] - clean[v]) < 1e-12, (v, got[v], clean[v])
    # a fully-disjoint seed set still fails loudly
    with pytest.raises(ValueError):
        pagerank(df, teleport_to=["zzz_not_a_node"])


def test_degree_stats_canonicalizes(spark):
    """Directed duplicates and self-loops collapse: a<->b, b->c, c->c
    is 2 undirected edges over 3 nodes."""
    df = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "c")],
        "src string, dst string",
    )
    row = degree_stats(df).collect()[0]
    assert (row.n_nodes, row.n_edges, row.max_degree) == (3, 2, 2)
    assert abs(row.avg_degree - 4 / 3) < 1e-6


def test_triangle_count_exact(spark):
    """K4 has 4 triangles; adding a pendant edge adds none."""
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    df = spark.createDataFrame(k4 + [(3, 9)], "src long, dst long")
    assert triangle_count(df).collect()[0].n_triangles == 4


def test_triangle_count_direction_insensitive(spark):
    """A triangle listed with mixed edge directions still counts once."""
    df = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    assert triangle_count(df).collect()[0].n_triangles == 1


def test_dup_graph_stats_driver_census_matches_operators(spark, sf_dir):
    """q_dup_graph_stats (pair_graph_stats' driver census on the
    fixture's pair set) equals degree_stats x triangle_count on it."""
    import __spark_entry__ as entrymod
    from meta_frame_spark.operators.dedup import minhash_lsh_dedup
    from pyspark.sql import functions as F

    fast = entrymod.queries()["dup_graph_stats"](spark, sf_dir).collect()[0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_dedup(
        docs, threshold=0.5, num_hashes=64, num_bands=32, shingle_n=3,
        restrict_to_candidates=False,
    ).persist()
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    slow = degree_stats(e).crossJoin(triangle_count(e)).collect()[0]
    pairs.unpersist()
    assert fast.asDict() == slow.asDict()


def test_bad_params(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    with pytest.raises(ValueError):
        pagerank(df, damping=1.5)
    with pytest.raises(ValueError):
        pagerank(df, n_iter=0)
    with pytest.raises(ValueError):
        pagerank(df, eps=0.0)
