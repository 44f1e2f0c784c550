"""Operator library: dedup, similarity, ranking, temporal, skew.

These are the north-star extensions beyond the reference's surface
(SURVEY.md §7.1 step 6) plus Spark-native completions of operator
classes the reference lacks (§2.3/§2.4 "not present" lists).
"""

from meta_frame_spark.operators.anomaly import (
    count_anomalies,
    flag_count_anomalies,
)
from meta_frame_spark.operators.expect import (
    check_constraints,
    expect_or_fail,
    expect_schema,
)
from meta_frame_spark.operators.freq import decayed_counts, heavy_hitters
from meta_frame_spark.operators.incremental import (
    aggregate_state,
    merge_aggregate_states,
)
from meta_frame_spark.operators.dedup import (
    containment_pairs,
    cross_source_overlap,
    dedup_against,
    drop_exact_duplicates,
    drop_near_duplicates,
    dup_cluster_sizes,
    dup_clusters,
    exact_dedup,
    hashed_jaccard_pairs,
    keep_best_per_cluster,
    minhash_lsh_candidates,
    minhash_lsh_dedup,
    minhash_signatures,
    near_dedup_against,
    ngram_jaccard_pairs,
    simhash,
    simhash_dup_groups,
    soft_dedup_weights,
)
from meta_frame_spark.operators.rake import rake_keywords
from meta_frame_spark.operators.ranking import (
    cube_aggregate,
    rollup_aggregate,
    top_k_per_group,
)
from meta_frame_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    embedding_outliers,
    group_centroids,
    hard_negatives,
    ivf_topk,
    srp_lsh_topk,
)
from meta_frame_spark.operators.bpe import (
    bpe_encode,
    bpe_train,
    byte_bpe_decode,
    byte_bpe_encode,
    byte_bpe_train,
)
from meta_frame_spark.operators.changelog import apply_changelog, latest_by_key
from meta_frame_spark.operators.kmeans import KMeansModel, kmeans_assign, kmeans_fit
from meta_frame_spark.operators.spans import (
    docs_with_duplicate_spans,
    duplicate_span_regions,
    duplicate_spans,
    remove_duplicate_regions,
)
from meta_frame_spark.operators.pca import PCAModel, pca_fit, pca_transform
from meta_frame_spark.operators.pq import ivfpq_topk, pq_encode, pq_fit, pq_topk
from meta_frame_spark.operators.chunking import (
    chunk_documents,
    fim_examples,
    ict_pairs,
    span_corruption,
    passage_pairs,
    sentence_passages,
)
from meta_frame_spark.operators.ranking_eval import (
    bleu_scores,
    chrf_scores,
    retrieval_metrics,
    rouge_n_scores,
    self_bleu_probe,
)
from meta_frame_spark.operators.unigram import (
    unigram_encode,
    unigram_sample_encode,
    unigram_train,
)
from meta_frame_spark.operators.diversify import kcenter_coverage, mmr_select
from meta_frame_spark.operators.nb import nb_predict, nb_train
from meta_frame_spark.operators.dsir import dsir_log_weights
from meta_frame_spark.operators.decontaminate import novelty_score
from meta_frame_spark.operators.logreg import (
    score_text_classifier,
    train_text_classifier,
)
from meta_frame_spark.operators.privacy import (
    k_anonymity_filter,
    k_anonymity_report,
    l_diversity_report,
    t_closeness_report,
)
from meta_frame_spark.operators.quantize import (
    int8_dequantize,
    int8_quantize,
    int8_reconstruction_stats,
    int8_topk,
)
from meta_frame_spark.operators.binhash import (
    hamming_rescore_topk,
    hamming_topk,
    sign_quantize,
)
from meta_frame_spark.operators.decontaminate import cross_split_leakage, decontaminate, ngram_overlap
from meta_frame_spark.operators.gating import (
    quantile_band_filter,
    top_mass_per_group,
    winsorize,
)
from meta_frame_spark.operators.quota import quota_per_group
from meta_frame_spark.operators.history import scd2_from_changelog, snapshot_asof
from meta_frame_spark.operators.linedup import dedup_units, repeated_units
from meta_frame_spark.operators.mixing import (
    apply_mix,
    doremi_domain_weights,
    mix_plan,
    temperature_mix_plan,
    unimax_allocation,
)
from meta_frame_spark.operators.sketch import (
    cardinality_sketch,
    estimate_distinct,
    incremental_distinct,
    kll_quantile_sketch,
    kll_quantiles,
    merge_cardinality_sketches,
    merge_kll_sketches,
    rolling_distinct,
    theta_overlap_matrix,
    theta_set_overlap,
    theta_sketch,
)
from meta_frame_spark.operators.packing import pack_sequences, pack_stats
from meta_frame_spark.operators.profile import (
    corpus_concentration,
    corpus_diversity,
    histogram_fixed,
    profile_table,
    with_compression_ratio,
)
from meta_frame_spark.operators.rake import rake_keywords
from meta_frame_spark.operators.ranking import (
    normalize_scores,
    ntile_buckets,
    quantile_match,
    rrf_fuse,
)
from meta_frame_spark.operators.vocab import (
    coverage_curve,
    pmi_collocations,
    token_counts,
    token_fertility,
    vocab_coverage,
    vocab_drift,
    vocab_topk,
)
from meta_frame_spark.operators.scoring import (
    ccnet_buckets,
    bigram_logprob,
    bigram_vocab,
    kneser_ney3_logprob,
    kneser_ney_logprob,
    modified_kneser_ney_logprob,
    score_documents,
    unigram_logprob,
    unigram_vocab,
)
from meta_frame_spark.operators.tokenizer_io import (
    load_merges,
    load_pieces,
    load_vocab,
    save_merges,
    save_pieces,
    save_vocab,
)
from meta_frame_spark.operators.vocab_ids import (
    byte_bpe_vocab,
    encode_ids,
    unigram_vocab_table,
)
from meta_frame_spark.operators.wordpiece import (
    wordpiece_encode,
    wordpiece_train,
)
from meta_frame_spark.operators.funnel import cohort_retention, funnel, funnel_counts
from meta_frame_spark.operators.search import (
    bm25_topk,
    build_inverted_index,
    tfidf_topk_terms,
)
from meta_frame_spark.operators.semdedup import semantic_dedup
from meta_frame_spark.operators.sampling import (
    budget_select,
    epoch_shuffle,
    hash_split,
    negative_pairs,
    sample_k_per_group,
    shuffle_deterministic,
    split_dataframes,
    stratified_sample,
    stratified_sample_exact,
    weighted_sample_k,
)
from meta_frame_spark.operators.ids import assign_row_numbers, running_total
from meta_frame_spark.operators.stats import (
    average_precision,
    calibration_report,
    calibration_summary,
    categorical_association,
    mad_outliers_report,
    precision_recall_curve,
    roc_auc,
    corr_matrix,
    embedding_drift,
    group_trend,
)
from meta_frame_spark.operators.basket import basket_sizes, co_occurrence
from meta_frame_spark.operators.bloom import bloom_build, bloom_probe
from meta_frame_spark.operators.cardest import join_cardinality_estimate
from meta_frame_spark.operators.cms import cms_build, cms_lookup, cms_merge
from meta_frame_spark.operators.graph import (
    degree_stats,
    pagerank,
    pair_graph_stats,
    triangle_count,
)
from meta_frame_spark.operators.rp import rp_project, rp_rescore_topk, rp_topk
from meta_frame_spark.operators.skew import (
    key_skew_report,
    salted_aggregate,
    two_phase_count_distinct,
)
from meta_frame_spark.operators.temporal import (
    asof_join,
    bucket_spine,
    event_paths,
    event_transitions,
    ewma,
    rolling_agg,
    sessionize,
)

__all__ = [
    "aggregate_state",
    "apply_changelog",
    "apply_mix",
    "basket_sizes",
    "bloom_build",
    "bloom_probe",
    "cms_build",
    "cms_lookup",
    "cms_merge",
    "co_occurrence",
    "decayed_counts",
    "degree_stats",
    "join_cardinality_estimate",
    "pagerank",
    "pair_graph_stats",
    "triangle_count",
    "rp_project",
    "rp_rescore_topk",
    "rp_topk",
    "cardinality_sketch",
    "estimate_distinct",
    "incremental_distinct",
    "merge_aggregate_states",
    "merge_cardinality_sketches",
    "temperature_mix_plan",
    "unimax_allocation",
    "cross_split_leakage",
    "decontaminate",
    "group_centroids",
    "embedding_drift",
    "group_trend",
    "hard_negatives",
    "KMeansModel",
    "kmeans_assign",
    "kmeans_fit",
    "docs_with_duplicate_spans",
    "duplicate_span_regions",
    "duplicate_spans",
    "remove_duplicate_regions",
    "ivfpq_topk",
    "PCAModel",
    "pca_fit",
    "pca_transform",
    "pq_encode",
    "pq_fit",
    "pq_topk",
    "latest_by_key",
    "mix_plan",
    "ngram_overlap",
    "quantile_band_filter",
    "quota_per_group",
    "semantic_dedup",
    "bm25_topk",
    "build_inverted_index",
    "funnel",
    "funnel_counts",
    "cohort_retention",
    "normalize_scores",
    "pmi_collocations",
    "quantile_match",
    "sessionize",
    "chunk_documents",
    "sentence_passages",
    "passage_pairs",
    "ict_pairs",
    "span_corruption",
    "fim_examples",
    "unigram_train",
    "unigram_encode",
    "unigram_sample_encode",
    "retrieval_metrics",
    "kneser_ney_logprob",
    "average_precision",
    "mad_outliers_report",
    "precision_recall_curve",
    "roc_auc",
    "winsorize",
    "histogram_fixed",
    "dedup_against",
    "asof_join",
    "event_paths",
    "event_transitions",
    "brute_force_topk",
    "bucket_spine",
    "dedup_units",
    "ntile_buckets",
    "repeated_units",
    "rolling_agg",
    "scd2_from_changelog",
    "bigram_logprob",
    "bpe_encode",
    "bpe_train",
    "byte_bpe_decode",
    "byte_bpe_encode",
    "byte_bpe_train",
    "corpus_concentration",
    "corpus_diversity",
    "with_compression_ratio",
    "kneser_ney3_logprob",
    "modified_kneser_ney_logprob",
    "load_merges",
    "load_pieces",
    "load_vocab",
    "save_merges",
    "save_pieces",
    "save_vocab",
    "byte_bpe_vocab",
    "encode_ids",
    "unigram_vocab_table",
    "bleu_scores",
    "chrf_scores",
    "rouge_n_scores",
    "rake_keywords",
    "self_bleu_probe",
    "wordpiece_encode",
    "wordpiece_train",
    "bigram_vocab",
    "ccnet_buckets",
    "score_documents",
    "snapshot_asof",
    "unigram_logprob",
    "unigram_vocab",
    "check_constraints",
    "containment_pairs",
    "corr_matrix",
    "count_anomalies",
    "cube_aggregate",
    "drop_exact_duplicates",
    "drop_near_duplicates",
    "dup_cluster_sizes",
    "dup_clusters",
    "embedding_near_dup_pairs",
    "embedding_outliers",
    "epoch_shuffle",
    "expect_or_fail",
    "expect_schema",
    "ewma",
    "exact_dedup",
    "flag_count_anomalies",
    "int8_dequantize",
    "int8_quantize",
    "hamming_rescore_topk",
    "hamming_topk",
    "sign_quantize",
    "budget_select",
    "running_total",
    "assign_row_numbers",
    "calibration_report",
    "calibration_summary",
    "categorical_association",
    "int8_reconstruction_stats",
    "int8_topk",
    "ivf_topk",
    "k_anonymity_filter",
    "k_anonymity_report",
    "l_diversity_report",
    "t_closeness_report",
    "kcenter_coverage",
    "mmr_select",
    "nb_predict",
    "nb_train",
    "dsir_log_weights",
    "train_text_classifier",
    "score_text_classifier",
    "novelty_score",
    "doremi_domain_weights",
    "hash_split",
    "hashed_jaccard_pairs",
    "heavy_hitters",
    "keep_best_per_cluster",
    "key_skew_report",
    "kll_quantile_sketch",
    "kll_quantiles",
    "merge_kll_sketches",
    "minhash_lsh_candidates",
    "minhash_lsh_dedup",
    "minhash_signatures",
    "near_dedup_against",
    "negative_pairs",
    "ngram_jaccard_pairs",
    "pack_sequences",
    "pack_stats",
    "profile_table",
    "rolling_distinct",
    "rollup_aggregate",
    "shuffle_deterministic",
    "split_dataframes",
    "sample_k_per_group",
    "stratified_sample",
    "stratified_sample_exact",
    "salted_aggregate",
    "simhash",
    "simhash_dup_groups",
    "soft_dedup_weights",
    "cross_source_overlap",
    "srp_lsh_topk",
    "theta_overlap_matrix",
    "tfidf_topk_terms",
    "theta_set_overlap",
    "theta_sketch",
    "top_k_per_group",
    "top_mass_per_group",
    "two_phase_count_distinct",
    "rrf_fuse",
    "weighted_sample_k",
    "vocab_drift",
    "vocab_topk",
    "vocab_coverage",
    "coverage_curve",
    "token_counts",
    "token_fertility",
]
