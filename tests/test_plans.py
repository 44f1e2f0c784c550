"""Physical-plan audits: the engine's declarative configs must reach
Catalyst in pushdown-able form. These tests pin the scale-critical
plan properties (predicate pushdown to parquet, column pruning,
broadcast hints) so a refactor can't silently regress them."""

from pyspark.sql import functions as F

from meta_frame_spark.plans.builder import aggregate_and_join, run_pipeline


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dialect_a_filter_pushed_to_parquet_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = run_pipeline(
        df,
        {
            "iterations": [
                {
                    "id": "x",
                    "level_1": {
                        "filters": [
                            {"filter_col": "l_quantity", "filter_op": "<", "filter_value": 10}
                        ],
                        "group_by": ["l_returnflag"],
                        "aggregations": [
                            {"agg_col": "l_extendedprice", "agg_func": "sum", "new_name": "s"}
                        ],
                    },
                }
            ]
        },
    )["x"]
    plan = _plan(out)
    # the config filter must reach the scan, not sit above the agg
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity,10" in plan


def test_dialect_a_prunes_scan_columns(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = run_pipeline(
        df,
        {
            "iterations": [
                {
                    "id": "x",
                    "level_1": {
                        "group_by": ["l_returnflag"],
                        "aggregations": [
                            {"agg_col": "l_quantity", "agg_func": "sum", "new_name": "s"}
                        ],
                    },
                }
            ]
        },
    )["x"]
    plan = _plan(out)
    # scan reads exactly the two referenced columns
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string>" in plan \
        or "ReadSchema: struct<l_returnflag:string,l_quantity:double>" in plan


def test_tree_child_broadcast_hint_respected(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")

    def loader(s, child):
        return s.read.parquet(f"{sf_dir}/customer.parquet").select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        )

    out = aggregate_and_join(
        orders,
        {
            "unique_id": "root",
            "aggregation": {
                "group_by": ["o_custkey"],
                "aggregations": {"o_totalprice": "sum"},
            },
            "children": [
                {
                    "unique_id": "cust",
                    "broadcast": True,
                    "join": {"on": "o_custkey", "how": "left"},
                }
            ],
        },
        loader=loader,
    )
    assert "BroadcastHashJoin" in _plan(out)


def test_string_filter_also_pushes_down(spark, sf_dir):
    from meta_frame_spark.plans.builder import nested_aggregate

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = nested_aggregate(
        df,
        {
            "id": "r",
            "filter": ["l_linestatus = 'O'"],
            "group_by": ["l_returnflag"],
            "aggregate": {"l_quantity": "sum"},
            "rename": {"l_quantity": "q"},
        },
    )
    plan = _plan(out)
    assert "EqualTo(l_linestatus,O)" in plan  # F.expr string filter pushed to scan


def test_exact_profile_has_no_expand(spark, sf_dir):
    """Multi-column exact-distinct profiling must plan one
    single-distinct aggregate per column (column-pruned scans), never
    the Expand that multiplies every row by the number of distincts."""
    from meta_frame_spark.operators.profile import profile_table

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    prof = profile_table(
        orders, cols=["o_orderkey", "o_custkey", "o_orderstatus"],
        exact_distinct=True,
    )
    assert "Expand" not in _plan(prof)


def test_group_quantiles_single_aggregate(spark, sf_dir):
    """All requested quantiles come from ONE percentile aggregate —
    k quantiles must not become k shuffles."""
    from meta_frame_spark.operators.profile import group_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gq = group_quantiles(docs, "n_chars", [0.1, 0.5, 0.9], ["lang"])
    plan = _plan(gq)
    assert plan.count("Exchange hashpartitioning") <= 1
    rows = gq.collect()
    langs = {r.lang for r in rows}
    assert all(len([r for r in rows if r.lang == l]) == 3 for l in langs)
    med = {r.lang: r.value for r in rows if r.q == 0.5}
    lo = {r.lang: r.value for r in rows if r.q == 0.1}
    assert all(lo[l] <= med[l] for l in langs)


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """100 TB join shape: a selective predicate on the dim side must
    reach the fact scan as a runtime Bloom filter (semi-join reduction)
    when the join is too big to broadcast — rows that cannot match are
    dropped before the shuffle, not after."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # sf0.01 tables are KBs; drop the size gates so the local plan
        # takes the same shape a 100 TB shuffle join would
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = (
            orders.join(cust, orders.o_custkey == cust.c_custkey)
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = _plan(out)
        assert "bloom_filter_agg" in plan       # built from the dim side
        assert "might_contain" in plan          # applied on the fact side
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_near_dup_pipelines_have_no_cartesian_product(spark, sf_dir):
    """Every near-dup path must pair docs through banded-LSH equi-joins,
    never an n^2 join: an all-pairs shape that passes at test scale is
    a guaranteed non-starter on a real corpus (the previous simhash
    query's crossJoin could not even finish at sf0.1).
    ``driver_threshold=0`` pins the distributed branch, which the
    fixture corpus would otherwise skip for the bounded driver one."""
    from meta_frame_spark.operators.dedup import minhash_lsh_dedup
    from meta_frame_spark.operators.similarity import embedding_near_dup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for df in (
        minhash_lsh_dedup(docs, threshold=0.9, num_hashes=64, num_bands=16,
                          shingle_n=3, driver_threshold=0),
        embedding_near_dup_pairs(emb, threshold=0.4, num_bands=64,
                                 driver_threshold=0),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_event_paths_single_shuffle(spark, sf_dir):
    """Path assembly must be one hash shuffle on the key with map-side
    partial collection — a sort-based or double-exchange shape would
    regress the biggest-table operator."""
    from meta_frame_spark.operators.temporal import event_paths
    from meta_frame_spark.sources.events import load_events

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    plan = _plan(event_paths(ev))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan


def test_hard_negatives_candidates_path_has_no_cartesian(spark, sf_dir):
    """The candidates= scale path must score only LSH candidate pairs —
    if the crossJoin shape leaks back in, corpus-scale query sets
    become n^2 (the default exact path keeps crossJoin(broadcast) by
    design for small query batches; this pins the scale arm)."""
    from pyspark.sql import functions as F
    from meta_frame_spark.operators.similarity import hard_negatives, srp_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    cands = srp_lsh_topk(emb, q, k=20)
    pos = cands.filter(F.col("rank") <= 2).select("query_id", "neighbor_id")
    out = hard_negatives(emb, q, pos, k=3, candidates=cands)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_release_tracked_caches_drops_operator_persists(spark, sf_dir):
    from meta_frame_spark.operators.cache import _TRACKED, release_tracked_caches
    from meta_frame_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    release_tracked_caches()  # clean slate
    pairs = minhash_lsh_dedup(
        docs, threshold=0.5, num_hashes=16, num_bands=4, shingle_n=3,
        restrict_to_candidates=False,
        driver_threshold=0,  # the distributed branch holds the persist
    )
    pairs.count()  # materializes the tracked persist
    assert len(_TRACKED) >= 1
    n = release_tracked_caches()
    assert n >= 1 and len(_TRACKED) == 0
    # double release is a harmless no-op
    assert release_tracked_caches() == 0


def test_text_normalize_is_map_only(spark, sf_dir):
    """strip_html + normalize_text must stay one codegen'd projection:
    any Exchange or Python eval here would tax every row of a 100 TB
    corpus for a string cleanup."""
    from meta_frame_spark.functions.text import normalize_text, strip_html

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(docs.select(
        "doc_id", normalize_text(strip_html(F.col("text"))).alias("c")
    ))
    assert "Exchange" not in plan
    assert "Python" not in plan  # no ArrowEvalPython / BatchEvalPython


def test_key_skew_report_uses_take_ordered(spark, sf_dir):
    """The hot-key report must rank via TakeOrderedAndProject
    (per-partition heaps), never a global single-partition sort over
    all distinct keys."""
    from meta_frame_spark.operators.skew import key_skew_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = _plan(key_skew_report(ev, ["user_id"], top_n=10))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_heavy_hitters_shuffles_candidates_not_tail(spark, sf_dir):
    """The exact recount's aggregate must sit above the candidate
    broadcast-join filter, so the groupBy(term) shuffle carries only
    candidate rows — the whole point of the MG pass. A plan where the
    big side shuffles before the join would be the full-vocabulary
    shuffle this operator exists to avoid."""
    from meta_frame_spark.operators.freq import heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.explode(F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(r"\S+"), 0)).alias("term"))
    plan = _plan(heavy_hitters(toks, "term", min_frac=0.002))
    assert "BroadcastHashJoin" in plan
    join_at = plan.index("BroadcastHashJoin")
    # every hash aggregate on term sits ABOVE (before, in toString
    # order) the join except the map-side partial under it: assert no
    # Exchange hashpartitioning(term) BELOW the join subtree start
    below = plan[join_at:]
    assert "Exchange hashpartitioning(term" not in below


def test_epoch_shuffle_assignment_is_map_side(spark, sf_dir):
    """Shard assignment must not shuffle before the per-shard window:
    exactly one hash exchange (the window's, keyed on shard)."""
    from meta_frame_spark.operators.sampling import epoch_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(epoch_shuffle(
        docs.select("doc_id"), "doc_id", epoch=1, n_shards=16
    ))
    assert plan.count("Exchange hashpartitioning") == 1


def test_theta_overlap_matrix_scans_data_once(spark, sf_dir):
    """The G x G matrix must come from sketch rows: one scan + one
    sketch aggregate; the pair fan-out joins KB-sized sketch rows,
    never re-reading the data per pair."""
    from meta_frame_spark.operators.sketch import theta_overlap_matrix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select("source", F.explode(F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(r"\S+"), 0)).alias("tok"))
    plan = _plan(theta_overlap_matrix(toks, "tok", "source"))
    assert plan.count("Scan parquet") <= 2  # the two sides of one ReusedExchange-able scan
    assert "theta_sketch_agg" in plan


def test_triangle_count_no_cartesian(spark, sf_dir):
    """The wedge-close plan must pair edges through equi-joins on the
    shared node — an n^2 edge join would be quadratic in edges."""
    from meta_frame_spark.operators.graph import triangle_count

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(200)
    e = li.select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    plan = _plan(triangle_count(e))
    assert "CartesianProduct" not in plan
    # the scalar 1-row agg attach is the only tolerated nested loop
    assert plan.count("BroadcastNestedLoopJoin") == 0


def test_co_occurrence_single_basket_shuffle(spark, sf_dir):
    """Pair expansion must happen inside the basket rows (HOFs after
    ONE groupBy on the basket key), never via a raw-table self-join —
    the self-join shape scans and shuffles the fact table twice."""
    from meta_frame_spark.operators.basket import co_occurrence

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = _plan(co_occurrence(li, "l_orderkey", "l_partkey"))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_cms_probe_broadcasts_sketch(spark, sf_dir):
    """The lookup join must broadcast the bounded sketch side; the key
    side must not shuffle for the probe."""
    from meta_frame_spark.operators.cms import cms_build, cms_lookup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(F.col("text").alias("term")).limit(100)
    sk = cms_build(toks, "term", depth=4, width=1024)
    plan = _plan(cms_lookup(sk, toks.distinct(), "term", depth=4, width=1024))
    assert "BroadcastHashJoin" in plan


def test_rp_project_is_map_only(spark, sf_dir):
    """The JL projection adds no exchange: one Arrow stage over the
    scan."""
    from meta_frame_spark.operators.rp import rp_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(rp_project(emb, out_dim=16))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_nb_scoring_broadcasts_model(spark, sf_dir):
    """NB scoring must probe the kilobyte model via broadcast joins:
    the token->log_cond join is a BroadcastHashJoin, and the only
    nested-loop shapes are the two intentional model-sized broadcasts
    — the L-row priors x doc-id matrix (scoring) and the L x V
    conditional grid (training, embedded lazily in the scoring DAG).
    Both sides of each are bounded by the model, never the corpus; a
    CartesianProduct or a third nested loop would mean corpus rows on
    the wire for a model that fits in L1."""
    from meta_frame_spark.operators.nb import nb_predict, nb_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    priors, cond = nb_train(docs, label_col="lang", vocab_size=64)
    plan = _plan(nb_predict(docs, priors, cond))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_dsir_scoring_broadcasts_ratio_table(spark, sf_dir):
    """DSIR scoring must probe the bounded bucket-ratio table via a
    broadcast hash join — the raw corpus never shuffles for scoring
    (its only shuffle is the final per-doc aggregate)."""
    from meta_frame_spark.operators.dsir import dsir_log_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter(F.col("lang") == "en")
    plan = _plan(dsir_log_weights(docs, target))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pmi_collocations_single_tokenize_pass(spark, sf_dir):
    """PMI's corpus cost is ONE explode+pair-count aggregate: the
    marginals and total must re-aggregate the pair table, so exactly
    one plan subtree explodes text (one Generate over the documents
    scan; the persisted pair branch is reused). No cartesian — the
    total joins in via a broadcast of a single row."""
    from meta_frame_spark.operators.vocab import pmi_collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(pmi_collocations(docs, k=10, min_count=2))
    assert "CartesianProduct" not in plan
    # the pair table is persisted: pairs/left/right/total all read the
    # cache (4 InMemoryTableScans), and EVERY explode in the printed
    # plan is the cached relation's embedded lineage — no uncached
    # tokenize path exists, so the text is exploded once at runtime
    assert plan.count("InMemoryTableScan") >= 4
    assert plan.count("Generate explode") == plan.count("InMemoryRelation")


def test_weighted_sample_k_pushes_group_limit(spark, sf_dir):
    """The ES top-k window must run as a rank window with a
    WindowGroupLimit (map tasks forward at most k candidate rows per
    group), and eligibility must reach the parquet scan as a pushed
    filter — the corpus never shuffles unfiltered."""
    from meta_frame_spark.operators.sampling import weighted_sample_k

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(weighted_sample_k(
        docs, 5, "n_chars", "doc_id", group_cols=["lang"], salt="s"
    ))
    assert "WindowGroupLimit" in plan
    assert "PushedFilters: [" in plan and "IsNotNull(n_chars)" in plan


def test_embedding_drift_shuffles_partials_not_vectors(spark, sf_dir):
    """Drift's only exchanges carry per-dim partial aggregates (the
    posexplode collapses map-side onto <= dim keys) — no join of the
    two sides at vector grain, no cartesian except the final
    broadcast of the one-row report against the one-row counts."""
    from meta_frame_spark.operators.stats import embedding_drift

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(embedding_drift(
        emb.filter(F.col("label") < 5), emb.filter(F.col("label") >= 5)
    ))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # 1-row x 1-row
    assert "HashAggregate" in plan


def test_stratified_sample_exact_single_shuffle(spark, sf_dir):
    """The rank window and the stratum-count window share one
    partitioning, so the whole exact cut costs ONE exchange — a
    second one would mean the windows didn't share their shuffle."""
    from meta_frame_spark.operators.sampling import stratified_sample_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(stratified_sample_exact(docs, "lang", 0.2, "doc_id"))
    import re

    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges == 1


def test_rrf_partitioned_rank_has_no_single_partition_exchange(spark, sf_dir):
    """The r8 weak mark: rrf_fuse's window mode funnels every row
    through ONE task (Exchange SinglePartition). The partitioned mode
    must not — ranks come from a range shuffle + per-partition-id
    window, so the plan may contain only parallel exchanges."""
    from meta_frame_spark.operators.ranking import rrf_fuse

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.col("n_chars").cast("double").alias("s")
    )
    plan_w = _plan(rrf_fuse(docs, ["s"], id_col="doc_id"))
    assert "SinglePartition" in plan_w  # the documented bounded-set tool
    plan_p = _plan(rrf_fuse(docs, ["s"], id_col="doc_id",
                            rank_mode="partitioned"))
    assert "SinglePartition" not in plan_p


def test_quantile_match_bucketed_plan_is_window_plus_map(spark, sf_dir):
    """Bucketed calibration must be ONE per-group window shuffle plus
    a broadcast-free literal-array map: no global sort (Exchange
    SinglePartition), no join against a reference table, no second
    hash exchange."""
    import re

    from meta_frame_spark.operators.ranking import quantile_match

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(quantile_match(
        docs, "n_chars", ["lang"], "doc_id", mode="bucketed",
        n_buckets=32,
    ))
    assert "SinglePartition" not in plan
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_novelty_score_plan_broadcasts_reference(spark, sf_dir):
    """The novelty probe must broadcast the reference gram set and
    never cartesian: corpus rows flow through one map-only explode +
    BroadcastHashJoin + per-doc aggregate."""
    from meta_frame_spark.operators.decontaminate import novelty_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(novelty_score(docs, docs.filter(F.col("lang") == "zh"), n=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_gopher_rules_plan_is_map_only(spark, sf_dir):
    """The Gopher report must stay a single map-side projection over
    the scan: no exchange, no join, no window — the property that
    makes it free at 100 TB."""
    from meta_frame_spark.functions.text import with_gopher_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(with_gopher_rules(docs))
    for op in ("Exchange", "Join", "Window", "Sort"):
        assert op not in plan, op


def test_fix_encoding_plan_is_map_only(spark, sf_dir):
    from meta_frame_spark.functions.text import fix_encoding

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(docs.select("doc_id", fix_encoding("text").alias("t")))
    for op in ("Exchange", "Join", "Window", "Sort"):
        assert op not in plan, op


def test_embedding_contamination_broadcasts_benchmark(spark, sf_dir):
    """Exact arm (small benchmark): ONE Arrow map over the corpus —
    no join, no exchange at all. LSH arm (benchmark over the exact
    cap): candidates come from a broadcast equi-join on (band,
    bucket); the corpus side must never shuffle into a sort-merge
    join or a cartesian product."""
    from meta_frame_spark.operators.decontaminate import (
        embedding_contamination,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = emb.filter("vec_id % 37 = 0")

    exact = _plan(embedding_contamination(emb, bench, threshold=0.9))
    assert "MapInPandas" in exact
    for op in ("Join", "Exchange", "CartesianProduct"):
        assert op not in exact, op

    lsh = _plan(embedding_contamination(
        emb, bench, threshold=0.9, driver_threshold=0))
    assert "BroadcastHashJoin" in lsh
    assert "CartesianProduct" not in lsh
    assert "SortMergeJoin" not in lsh


def test_repetition_rules_plan_is_map_only(spark, sf_dir):
    """The Gopher repetition report is one map stage (codegen HOFs +
    a single ArrowEvalPython for the gram histograms): no exchange,
    no join, no window."""
    from meta_frame_spark.functions.text import with_repetition_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(with_repetition_rules(docs))
    for op in ("Exchange", "Join", "Window", "Sort"):
        assert op not in plan, op
    assert "ArrowEvalPython" in plan  # the one vectorized gram pass


def test_c4_clean_plan_is_map_only(spark, sf_dir):
    from meta_frame_spark.functions.text import with_c4_clean

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(with_c4_clean(docs))
    for op in ("Exchange", "Join", "Window", "Sort"):
        assert op not in plan, op


def test_blocklist_score_plan_is_map_only(spark, sf_dir):
    """The weighted blocklist gate scores against a LITERAL term map —
    the list is config, never a join side: no exchange, no join, no
    window, all codegen."""
    from meta_frame_spark.functions.text import with_blocklist_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(with_blocklist_score(docs))
    for op in ("Exchange", "Join", "Window", "Sort"):
        assert op not in plan, op


def test_sentence_passages_plan_is_map_only(spark, sf_dir):
    """Passage extraction is one codegen map + generate fan-out: no
    exchange, no join, no window — fan-out happens inside each task."""
    from meta_frame_spark.operators.chunking import sentence_passages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(sentence_passages(docs, n_sentences=2, stride=1))
    for op in ("Exchange", "Join", "Window", "Sort"):
        assert op not in plan, op


def test_soft_dedup_shuffles_keys_not_text(spark, sf_dir):
    """soft_dedup_weights must aggregate/join on the 16-byte md5 key
    projection — the text column may appear in the scan but never in
    an exchange's output schema (the full-row window variant would
    shuffle every text byte by cluster key)."""
    import re

    from meta_frame_spark.operators.dedup import soft_dedup_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(soft_dedup_weights(docs))
    assert "Window" not in plan
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


def test_vocab_coverage_broadcasts_vocab(spark, sf_dir):
    """The vocab probe joins BROADCAST onto the (group, token) type
    table; token rows must never sort-merge against the vocabulary."""
    from meta_frame_spark.operators.vocab import vocab_coverage, vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(vocab_coverage(docs, vocab_topk(docs, k=25)))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_code_switch_plan_is_map_only(spark, sf_dir):
    """The code-switch report runs the language_scores expression tree
    per sentence INSIDE a transform lambda — still one codegen map:
    no exchange, no join, no window, no generate."""
    from meta_frame_spark.functions.text import with_code_switch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(with_code_switch(docs))
    for op in ("Exchange", "Join", "Window", "Sort", "Generate"):
        assert op not in plan, op


def test_token_fertility_is_one_aggregate_no_explode(spark, sf_dir):
    """Fertility counts are per-row regexp expressions feeding one
    map-side-combined aggregate — tokens must never become rows (no
    Generate) and nothing joins or windows."""
    from meta_frame_spark.operators.vocab import token_fertility

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(token_fertility(docs))
    for op in ("Join", "Window", "Generate"):
        assert op not in plan, op
    assert plan.count("Exchange") <= 2  # partial/final agg pair


def test_cross_source_overlap_never_shuffles_text(spark, sf_dir):
    """The overlap matrix aggregates on the 16-byte md5 key; the text
    column may feed the scan but must not appear in any exchange."""
    import re

    from meta_frame_spark.operators.dedup import cross_source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(cross_source_overlap(docs))
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text" not in m.group(0), m.group(0)


def test_url_quality_plan_is_map_only(spark, sf_dir):
    from meta_frame_spark.functions.web import with_url_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.concat(F.lit("https://x.io/"),
                           F.col("doc_id").cast("string")).alias("url")
    )
    plan = _plan(with_url_quality(docs))
    for op in ("Exchange", "Join", "Window", "Sort", "Generate"):
        assert op not in plan, op


def test_pair_extraction_plans_are_map_only(spark, sf_dir):
    """passage_pairs builds windows AND pairs in-row; ict_pairs picks
    its query via an in-row array_max — neither may shuffle, join,
    window, or sort; the only fan-out is passage_pairs' posexplode."""
    from meta_frame_spark.operators.chunking import ict_pairs, passage_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    for frame in (passage_pairs(docs, n_sentences=2), ict_pairs(docs)):
        plan = _plan(frame)
        for op in ("Exchange", "Join", "Window", "Sort"):
            assert op not in plan, op


def test_span_corruption_plan_is_map_only_single_scan(spark, sf_dir):
    """The corruption example is ONE aggregate scan over the token
    array — no exchange, join, window, sort, or generate; the plan
    stays compact (the index-HOF formulation re-inlined the mask/run
    arrays into each other and exploded Catalyst compile time)."""
    from meta_frame_spark.operators.chunking import span_corruption

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    plan = _plan(span_corruption(docs))
    for op in ("Exchange", "Join", "Window", "Sort", "Generate"):
        assert op not in plan, op


def test_fim_plan_is_map_only(spark, sf_dir):
    """FIM is per-row slices over one shared token array — no
    exchange, join, window, sort, or generate in either mode."""
    from meta_frame_spark.operators.chunking import fim_examples

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    for mode in ("psm", "spm"):
        plan = _plan(fim_examples(docs, mode=mode))
        for op in ("Exchange", "Join", "Window", "Sort", "Generate"):
            assert op not in plan, op


def test_ann_dedup_family_quadratic_guard(spark, sf_dir):
    """Quadratic-guard regression net (VERDICT r13 #6): EVERY
    registered ann_topk_*/dedup_*/near-dup query must keep corpus-
    sized inputs out of n^2 join shapes. CartesianProduct is banned
    outright. BroadcastNestedLoopJoin appears only where the build
    side is bounded BY DESIGN — the broadcast query batch of the
    exact arms (every recall-invariant ANN query recomputes the exact
    baseline) and 1-row scalar attaches — so each query pins its
    audited allowance; any NEW nested loop (e.g. a candidates-hook
    regression that silently falls back to all-pairs) exceeds the pin
    and fails here before it can ship."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    import __spark_entry__ as e

    # audited NLJ allowances: broadcast query-batch joins in the
    # exact-baseline arms + 1-row scalar attaches (PLANS.md NLJ
    # column). 0 for every pure dedup path.
    allowed_nlj = {
        "ann_topk": 1,
        "ann_topk_ivf": 4, "ann_topk_ivfpq": 4, "ann_topk_lsh": 4,
        "ann_topk_pq": 4, "ann_topk_rp": 6,
        "hard_neg_lsh": 4, "hard_negatives": 1,
    }
    qs = e.queries()
    family = sorted(
        n for n in qs
        if n.startswith(("ann_topk", "dedup_"))
        or n in ("emb_near_dup", "near_dedup_against", "semantic_dedup",
                 "hard_neg_lsh", "hard_negatives", "emb_decontam")
    )
    assert len(family) >= 20  # the net must keep covering the family
    failures = []
    for name in family:
        plan = _plan(qs[name](spark, sf_dir))
        n_cart = plan.count("CartesianProduct")
        n_nlj = plan.count("BroadcastNestedLoopJoin")
        if n_cart or n_nlj > allowed_nlj.get(name, 0):
            failures.append((name, n_cart, n_nlj))
    assert not failures, (
        "quadratic join shapes beyond the audited allowance: "
        f"{failures}"
    )


def test_r14_eval_ops_plan_shapes(spark, sf_dir):
    """Plan pins for the round-14 eval/audit family: the generation
    metrics stay shuffle-free per row (bleu map-only; chrf's only
    joins are the (id, n, gram) equi-join — no nested loop); the
    self-BLEU probe's quadratic is EXACTLY one BroadcastNestedLoopJoin
    over the bounded 60-row sample (its audited allowance — anything
    more means the sample bound broke); the one-row audits never
    cartesian."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    import __spark_entry__ as e

    qs = e.queries()
    # bleu_eval: map-only after the loader (no joins at all)
    plan = _plan(qs["bleu_eval"](spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    # chrf_eval: equi-join only
    plan = _plan(qs["chrf_eval"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # self_bleu: the bounded-sample cross join is the single audited
    # nested loop; the corpus side must not appear in it
    plan = _plan(qs["self_bleu"](spark, sf_dir))
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 1
    # one-row audits: no quadratic shapes anywhere
    for name in ("l_diversity", "t_closeness", "calibration_summary",
                 "categorical_association", "mad_outliers",
                 "corpus_concentration", "pr_curve",
                 "average_precision"):
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
