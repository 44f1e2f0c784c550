"""Graph centrality: distributed PageRank by power iteration.

Not in the reference (SURVEY.md §2 — no graph surface); this is the
classic link-analysis operator a corpus pipeline needs for citation /
hyperlink / interaction graphs: weight documents (or entities, or
event states) by the stationary visit probability of a damped random
walk (public algorithm — Brin & Page 1998).

Scale design (billion-edge graphs):

* Each of the ``n_iter`` rounds is ONE edge-join + ONE groupBy on the
  destination — the canonical two-shuffle PageRank step every
  distributed graph engine runs. Edge weights are pre-normalized to
  per-source shares ONCE up front (``w / out_w``), so the loop never
  re-joins the out-degree frame; AQE handles skewed hub nodes (or
  pre-salt the edge list with operators/skew.py for pathological
  fan-in).
* The rank frame is **eagerly localCheckpoint-ed per round** — each
  round references the previous TWICE (contribution join + dangling
  mass), so without a hard lineage cut the logical tree doubles per
  round and Catalyst's tree-walking is exponential by round ~8 (a
  plain persist() does not cut the analyzed plan, only execution; the
  4-node unit-test graph OOMed the driver under persist+count). On a
  real cluster prefer ``checkpoint()`` with a checkpoint dir if
  executor loss must be recoverable mid-run.
* Dangling mass (nodes with no out-edges) is redistributed uniformly;
  the dangling set is static, so each rank row carries an
  ``is-dangling`` flag and the per-round total is a filter-aggregate
  over the checkpointed rank frame riding along as a one-row
  crossJoin — no per-round anti-join, never a data-proportional
  collect. The only driver scalars are the node count, the loop
  counter, and (with ``eps``) the occasional convergence delta.
* Total work: O(n_iter * |E|) — linear per round, fixed rounds; at
  100 TB the edge list partitions on the join key once up front and
  every round reuses that layout.

``pagerank`` and ``pair_graph_stats`` are dual-path (:mod:`.bounded`):
a graph whose edge list fits the driver runs the same arithmetic in
numpy on one bounded Arrow collect, with no per-round jobs.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from meta_frame_spark.operators.bounded import bounded_collect, gate_pairs, row_cap
from meta_frame_spark.operators.dedup import UNION_FIND_CAP

#: Driver bytes of one edge in :func:`pagerank`'s driver branch: the
#: collected ids and weight, the node lookup and the two index arrays,
#: the per-edge share and its per-round products, and the rank vectors
#: of the at most two nodes an edge adds. String or binary ids add
#: twice their bytes (the collected copy and the node list).
_EDGE_BYTES = 256

_NO_SEED = (
    "teleport_to: no seed matches any graph node; "
    "personalized PageRank needs at least one in-graph seed"
)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    teleport_to: list | None = None,
    eps: float | None = None,
    driver_threshold: int = row_cap(_EDGE_BYTES),
) -> DataFrame:
    """``(node, rank)`` after ``n_iter`` damped power-iteration rounds.
    With ``weight_col`` each edge passes rank in proportion to its
    weight share of the source's outgoing total (the weighted random
    surfer); without it, multi-edges contribute multiply — pass a
    ``.distinct()`` edge list for an unweighted graph. An edge with a
    null endpoint or a null weight is dropped: a null id is no node.

    Dual path (see :mod:`.bounded`). Edge lists of at most
    ``driver_threshold`` edges (default: as many as fit
    ``bounded.DRIVER_BYTES`` at ``_EDGE_BYTES`` each; string ids are
    bounded by their bytes too) run on the driver: one bounded Arrow
    collect (two for string ids), then the same float64 recurrence in
    numpy (:func:`_pagerank_driver`). ``driver_threshold=0`` forces
    the distributed loop below.

    ``eps`` turns on convergence early-stop and makes ``n_iter`` a MAX:
    the loop stops once the L1 delta between successive rank vectors
    is measured below eps. The geometric contraction of the damped
    walk bounds everything downstream of the stop: the remaining
    rounds could move any rank by at most
    ``eps * damping / (1 - damping)`` in L1 (~5.7x eps at damping
    0.85), so ``eps = 1e-9`` is provably invisible at the repo's 6dp
    presentation rounding even against a fixed-``n_iter`` reference.
    The previous rank rides along as a free column of the round's
    existing join (no extra join), and the delta AGGREGATE JOB is
    scheduled from the MEASURED decay: after two measurements the
    firing round is projected geometrically
    (``k + log(eps/delta_k)/log(measured rate)``) and intermediate
    checks are skipped, re-checking one round before the projection —
    so slow-mixing graphs pay ~2 delta jobs total while fast-mixing
    graphs still stop the moment delta crosses eps (the measured rate
    beats the worst-case ``damping`` bound by orders of magnitude on
    well-connected graphs). Stopping is only ever on a measured
    delta < eps, never on the projection; a chain that converges
    between scheduled checks just runs until the next check (results
    only closer to the fixed ``n_iter`` reference). Driver-sequenced
    rounds remain the one documented 100x-scale soft spot of this
    operator; early-stop directly cuts that barrier count.

    ``teleport_to`` switches to PERSONALIZED PageRank: the teleport
    and dangling mass land uniformly on the seed set (and the walk
    starts there) instead of on all nodes — "importance relative to
    THESE nodes", the similar-items / related-docs primitive. Seeds
    are a driver-side list because a personalization set is small by
    definition; a data-scale seed frame would join instead of isin.

    Ranks sum to 1 (dangling mass redistributed to the teleport
    distribution); exact doubles, round at the presentation layer."""
    if not 0.0 <= damping <= 1.0:
        raise ValueError(f"damping must be in [0, 1], got {damping}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if eps is not None and eps <= 0:
        raise ValueError(f"eps must be > 0 (or None), got {eps}")
    if teleport_to is not None and not teleport_to:
        raise ValueError("teleport_to must be None or a non-empty list")
    w = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    )
    # every round re-joins the edge list — persist it once up front so
    # an expensive upstream derivation (e.g. a window over raw events)
    # doesn't re-execute n_iter times (or twice for a two-job gate)
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
        )
        .filter(
            F.col("src").isNotNull() & F.col("dst").isNotNull() & F.col("w").isNotNull()
        )
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    row_bytes = None
    if any(
        isinstance(e.schema[c].dataType, (T.StringType, T.BinaryType))
        for c in ("src", "dst")
    ):
        row_bytes = (
            2 * (F.octet_length("src") + F.octet_length("dst")) + _EDGE_BYTES
        )
    local = bounded_collect(e, driver_threshold, "pagerank", row_bytes)
    if local is not None:
        e.unpersist()
        return _pagerank_driver(
            edges.sparkSession, local, nodes.schema.fields[0],
            damping, n_iter, teleport_to, eps,
        )
    nodes = nodes.persist()
    n = nodes.count()  # bounded driver scalar: |V|
    if n == 0:
        nodes.unpersist()
        e.unpersist()
        return nodes.select(F.col("node"), F.lit(0.0).alias("rank"))
    # Size the per-round rank frame to the GRAPH, not the session
    # default: a 5-node transition graph spread over 32 shuffle
    # partitions pays 10 rounds x 32 near-empty tasks of pure
    # scheduling (the dominant cost at bench scale); a billion-node
    # graph keeps the session's parallelism. ~100k nodes per
    # partition, capped at the default parallelism.
    target = max(1, min(
        edges.sparkSession.sparkContext.defaultParallelism,
        n // 100_000 + 1,
    ))
    deg = e.groupBy("src").agg(F.sum("w").alias("out_w")).persist()
    # Pre-normalize edge weights ONCE to per-source shares: the loop
    # then joins ranks against a single static frame per round instead
    # of ranks -> edges -> out-degrees (one join per round, not two).
    e_norm = (
        e.join(deg, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        .persist()
    )

    if teleport_to is None:
        t = F.lit(1.0 / n)
    else:
        # Normalize over the DISTINCT IN-GRAPH seeds: duplicates in the
        # list or seeds absent from the graph would otherwise make the
        # teleport column sum to present/len < 1 and the ranks silently
        # decay below 1, breaking the docstring's sum-to-1 invariant.
        # Bounded scalar: counts matches among a small driver-side list.
        seeds = sorted(set(teleport_to))
        present = nodes.filter(F.col("node").isin(seeds)).count()
        if present == 0:
            nodes.unpersist()
            deg.unpersist()
            e.unpersist()
            raise ValueError(_NO_SEED)
        # weight mass only on seeds that exist in the graph — absent
        # seeds get nothing (their 1/present share would leak out of
        # the walk) rather than silently shrinking everyone's share
        t = F.when(
            F.col("node").isin(seeds), F.lit(1.0 / present)
        ).otherwise(F.lit(0.0))
    # Dangling handling ONCE, not per round: the out-edge-less node
    # set is static, so each rank row carries a `_sink` flag (built
    # from one left join at init) and every round's dangling mass is a
    # plain filter-aggregate over the checkpointed rank frame — the
    # per-round anti-join + its shuffle are gone. A limit-1 probe on
    # the flag then removes even that filter-agg + crossJoin from ALL
    # n_iter rounds of sink-free graphs (transition graphs, strongly
    # connected link graphs).
    ranks = (
        nodes.join(
            deg.select(F.col("src").alias("node"), F.lit(True).alias("_o")),
            "node",
            "left",
        )
        .select("node", F.col("_o").isNull().alias("_sink"), t.alias("rank"))
        .coalesce(target)
        .localCheckpoint()
    )
    has_dangling = ranks.filter("_sink").limit(1).count() > 0
    # eps check schedule (docstring): project the firing round from
    # the MEASURED per-round decay rate and skip the delta jobs in
    # between, arriving one round early — a skipped round costs a full
    # join+checkpoint, ~10x a delta job, so near the firing zone we
    # check every round. First possible stop is after round 1.
    next_check = 1
    prev_delta: float | None = None
    prev_rnd = 0
    try:
        for rnd in range(1, n_iter + 1):
            contrib = (
                ranks.join(e_norm, ranks.node == e_norm.src)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") * F.col("p")).alias("contrib"))
            )
            # the checkpointed rank frame itself is the node spine —
            # previous rank and the sink flag come along for free
            new_ranks = ranks.select(
                "node", "_sink", F.col("rank").alias("_prev")
            ).join(contrib, "node", "left")
            if has_dangling:
                dangling = ranks.filter("_sink").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
                )
                new_ranks = new_ranks.crossJoin(dangling)
                dangling_mass = F.col("_dangling")
            else:
                dangling_mass = F.lit(0.0)
            cols = [
                F.col("node"),
                F.col("_sink"),
                (
                    F.lit(1.0 - damping) * t
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + dangling_mass * t
                    )
                ).alias("rank"),
            ]
            if eps is not None:
                cols.append(F.col("_prev"))
            # eager localCheckpoint: materializes AND replaces the
            # logical plan with the computed RDD — O(1) lineage per
            # round (see module docstring)
            ranks = new_ranks.select(*cols).coalesce(target).localCheckpoint()
            if eps is not None and rnd >= next_check:
                delta = ranks.agg(
                    F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("d")
                ).collect()[0].d
                if delta is not None and delta < eps:
                    break
                if (
                    delta is not None
                    and delta > 0.0
                    and prev_delta is not None
                    and delta < prev_delta
                ):
                    # geometric projection from the last two points;
                    # a too-optimistic rate just means the next check
                    # re-projects — stopping is only ever on a
                    # measured delta < eps, never on the projection
                    rate = (delta / prev_delta) ** (1.0 / (rnd - prev_rnd))
                    need = math.log(eps / delta) / math.log(rate)
                    next_check = rnd + max(1, math.ceil(need) - 1)
                else:
                    next_check = rnd + 1
                prev_delta, prev_rnd = delta, rnd
        return ranks.select("node", "rank")
    finally:
        nodes.unpersist()
        deg.unpersist()
        e_norm.unpersist()
        e.unpersist()


def _pagerank_driver(
    spark,
    local: pa.Table,
    node_field: T.StructField,
    damping: float,
    n_iter: int,
    teleport_to: list | None,
    eps: float | None,
) -> DataFrame:
    """Driver branch of :func:`pagerank` on the collected ``(src, dst,
    w)`` edges: the node set is the distinct endpoints, and the same
    float64 recurrence as the distributed loop runs in numpy. It checks
    the convergence delta every round (free here), so it stops at or
    before the distributed schedule; any difference is inside the eps
    contraction bound and invisible at the repo's 6dp presentation
    rounding."""
    node_type = to_arrow_type(node_field.dataType)
    src = local.column("src").cast(node_type)
    dst = local.column("dst").cast(node_type)
    ids = pc.unique(pa.chunked_array(src.chunks + dst.chunks, type=node_type))
    n = len(ids)
    schema = T.StructType([node_field, T.StructField("rank", T.DoubleType(), False)])
    if n == 0:
        return spark.createDataFrame([], schema)
    si = pc.index_in(src, value_set=ids).to_numpy()
    di = pc.index_in(dst, value_set=ids).to_numpy()
    w = local.column("w").to_numpy()
    out_w = np.zeros(n, dtype=np.float64)
    np.add.at(out_w, si, w)
    p = w / out_w[si]
    is_sink = out_w == 0.0
    if teleport_to is None:
        t = np.full(n, 1.0 / n, dtype=np.float64)
    else:
        # normalize over the DISTINCT IN-GRAPH seeds (same contract as
        # the distributed branch: duplicates and absent seeds are inert)
        seeds = pc.is_in(
            ids, value_set=pa.array(sorted(set(teleport_to)), type=node_type)
        ).to_numpy(zero_copy_only=False)
        if not seeds.any():
            raise ValueError(_NO_SEED)
        t = np.where(seeds, 1.0 / int(seeds.sum()), 0.0)
    rank = t.copy()
    for _ in range(n_iter):
        contrib = np.zeros(n, dtype=np.float64)
        np.add.at(contrib, di, rank[si] * p)
        dangling = float(rank[is_sink].sum())
        new_rank = (1.0 - damping) * t + damping * (contrib + dangling * t)
        delta = float(np.abs(new_rank - rank).sum()) if eps is not None else None
        rank = new_rank
        if eps is not None and delta < eps:
            break
    return spark.createDataFrame(pa.table({"node": ids, "rank": rank}), schema)


def pair_graph_stats(pairs: DataFrame) -> DataFrame:
    """:func:`degree_stats` and :func:`triangle_count` of the undirected
    graph over dup pairs ``(id_a, id_b)``, in one row: ``(n_nodes,
    n_edges, max_degree, avg_degree, n_triangles)``.

    Dual path (see :mod:`.bounded`). At most ``dedup.UNION_FIND_CAP``
    pairs are collected and counted on the driver (adjacency sets, then
    each triangle once from its lowest edge), the derived columns going
    through the same Spark expressions as the operators', so every
    value is bit-identical to theirs. Larger pair lists run both
    operators over one persisted pair frame."""
    pairs, local = gate_pairs(pairs, UNION_FIND_CAP, "pair_graph_stats")
    if local is None:
        e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        return degree_stats(e).crossJoin(triangle_count(e))
    adj: dict = defaultdict(set)
    for a, b in zip(local.column(0).to_pylist(), local.column(1).to_pylist()):
        # least/greatest skip a null, so the distributed census sees a
        # pair with a null end as a self-loop and drops it
        if a is not None and b is not None and a != b:
            adj[a].add(b)
            adj[b].add(a)
    tri = 0
    for a, nbrs in adj.items():
        for b in nbrs:
            if b > a:
                na, nb = nbrs, adj[b]
                if len(nb) < len(na):
                    na, nb = nb, na
                tri += sum(1 for c in na if c > b and c in nb)
    degs = [len(s) for s in adj.values()]
    base = pairs.sparkSession.createDataFrame(
        [(len(adj), sum(degs) if degs else None, max(degs, default=None), tri)],
        "n_nodes long, _sumdeg long, max_degree long, n_triangles long",
    )
    return base.select(
        "n_nodes",
        (F.col("_sumdeg") / 2).cast("long").alias("n_edges"),
        "max_degree",
        F.round(F.col("_sumdeg") / F.col("n_nodes"), 6).alias("avg_degree"),
        "n_triangles",
    )


def degree_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Undirected-graph census in one row: ``(n_nodes, n_edges,
    max_degree, avg_degree)``. Edges are canonicalized (min, max) and
    deduplicated first, so a directed or repeated edge list is safe
    input. Two map-combined aggregates — no joins."""
    a = F.least(F.col(src_col), F.col(dst_col)).alias("a")
    b = F.greatest(F.col(src_col), F.col(dst_col)).alias("b")
    e = edges.select(a, b).filter(F.col("a") != F.col("b")).distinct()
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.max("deg").alias("max_degree"),
        F.round(F.avg("deg"), 6).alias("avg_degree"),
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """One row ``(n_triangles)``: closed triples in the undirected
    graph. Canonical ordering (each triangle counted once as
    ``i < j < k``) via the standard two-join wedge-close plan: wedges
    ``(i<j) x (j<k)`` form on the shared middle node, then a semi-join
    against the edge list keeps closed ones. Two shuffle joins total;
    at scale, order nodes by DEGREE instead of id before the wedge
    join (the Cohen / Suri-Vassilvitskii trick) so hub nodes don't
    fan out quadratically — id order is used here because the dup/
    transition graphs this feeds have bounded degree after LSH
    banding."""
    a = F.least(F.col(src_col), F.col(dst_col)).alias("a")
    b = F.greatest(F.col(src_col), F.col(dst_col)).alias("b")
    # e appears three times in ONE lazy plan — identical
    # scan+distinct subtrees get shuffle reuse under AQE, so no
    # persist here (a persist released before the caller's action
    # would be dead weight; callers with an expensive edge derivation
    # should persist upstream)
    e = edges.select(a, b).filter(F.col("a") != F.col("b")).distinct()
    w1 = e.select(F.col("a").alias("i"), F.col("b").alias("j"))
    w2 = e.select(F.col("a").alias("j"), F.col("b").alias("k"))
    wedges = w1.join(w2, "j")
    closed = wedges.join(
        e.select(F.col("a").alias("i"), F.col("b").alias("k")),
        ["i", "k"],
        "left_semi",
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))
