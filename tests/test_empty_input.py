"""Zero-row inputs must yield typed empty results, never crashes.

A bad partition filter or an empty upstream delivery gives every
operator 0 rows in production; an operator that answers with a
driver-side NoneType/ZeroDivision error takes the whole pipeline
down. Round 4's sweep over ALL non-streaming queries found exactly
four offenders (driver-side corpus stats: IVF/PQ training on
np.stack([]), semantic dedup's dim probe, pagerank's 1/n) — fixed to
return schema-correct empty frames. This suite pins those four plus
a representative spread of the major families so the class stays
closed."""

from __future__ import annotations

import pytest

from my_mapreduce_spark.io import TABLES, load_table
from tools import runner

FIXED = ["q_dedup_semantic", "q_knn_ivf", "q_knn_pq_adc", "q_pagerank"]
SPREAD = [
    "q1_pricing_summary", "q3_shipping_priority", "q_window_ntile",
    "q_vocab_rank_scalable", "q_lang_id_trigram", "q_dedup_minhash_lsh",
    "q_dedup_clusters", "q_pack_sequences", "q_bm25_search",
    "q_knn_bruteforce", "q_equidepth_histogram", "q_keyset_pagination",
    "q_multimodal_resize", "q_dedup_minhash_lsh_prod",
    "q_streaming_near_dup",
    # round-4 continuation additions with driver-scalar seams
    "q_zorder_layout", "q_sssp_bellman_ford", "q_twap_events",
    "q_bpe_encode", "q_hits_hub_authority", "q_kcore_peel",
    "q_tokenizer_fertility", "q_mixture_temperature",
    "q_dedup_prefix_filter",
    # second round-4 batch: driver-scalar seams (zonemap bounds,
    # bloom division) and iterative/window shapes on zero rows
    "q_zonemap_skipping", "q_bloom_filter_fpr", "q_label_propagation",
    "q_cusum_changepoint", "q_doc_repetition", "q_posting_gap_bits",
    "q_groupwise_ols", "q_index_delta_merge",
    "q_hash_sample_join", "q_streaming_full_outer_join",
    "q_exact_median_twopass", "q_benford_screen",
    # third round-4 batch: apriori's L1-vocabulary collect seam, the
    # deletion-neighborhood group explode, the linkpred degree cap
    "q_itemsets_apriori", "q_editdist1_join", "q_linkpred_resource_alloc",
    "q_sequence_pattern_match", "q_feature_hashing", "q_compression_ratio",
    "q_quantile_normalize", "q_selfjoin_size_stats",
    "q_poisson_bootstrap_ci", "q_roc_auc", "q_gains_table",
    "q_ab_test_welch", "q_chisq_independence", "q_classifier_metrics",
    "q_walk_forward_splits", "q_learning_curve", "q_rendezvous_sharding",
    "q_k_anonymity",
    # fourth round-4 batch: the ECDF grid cross-join and the
    # DP noise expression on zero/null groups
    "q_ks_test", "q_dp_noisy_counts",
    "q_interval_overlap_join", "q_substring_dedup_spans",
    "q_retrieval_recall_mrr",
    "q_survival_life_table", "q_mann_kendall",
    "q_join_size_estimate", "q_jl_projection",
    "q_snapshot_time_travel", "q_autocomplete_prefix_index",
    "q_kmv_sketch_intersect", "q_calibration_ece",
    "q_funnel_ordered_3step", "q_sql_named_window",
    "q_calendar_spine", "q_byte_entropy_vectorized",
    # fifth round-4 batch: the two distributed-rank moment queries
    # and kappa emit one all-NULL summary row; PSI's grid, the shard
    # packer, and the lag join collapse to zero rows
    "q_spearman_corr", "q_cohens_kappa", "q_gini_concentration",
    "q_psi_drift", "q_shard_pack_cumsum", "q_crosscorr_leadlag",
    # sixth batch: rank fusion's two empty lists, the segment graph,
    # the CDC boundary windows, the 70-column permutation aggregate
    "q_rrf_fusion", "q_sentence_centrality", "q_cdc_chunks",
    "q_permutation_test",
    # seventh batch: suggestion index, decay feature, coverage
    # crossings, reciprocal-match argmax on zero rows
    "q_next_token_suggest", "q_decay_weighted_engagement",
    "q_vocab_coverage_curve", "q_mutual_best_match",
    # streaming drift monitor: empty calibration slice + empty stream
    "q_streaming_psi_drift",
    # ninth batch: bounded pair join, cohort moments, byte fingerprints
    "q_theil_sen_slope", "q_seasonal_anomaly", "q_multimodal_phash",
    # experimentation tier: 1-row guardrail/moment summaries and the
    # PAV minimax joins over an empty bin relation
    "q_srm_check", "q_cuped_adjustment", "q_isotonic_calibration",
    # lexical/graph batch: KN's four count relations, the richness
    # log ratio, the triangle joins, the assortativity moments
    "q_kneser_ney_bigram", "q_lexical_richness",
    "q_clustering_coefficient", "q_graph_assortativity",
    # curation batch: the (label,dim) centroid join, the unrolled
    # MMR anti-join chain, the budget scalar on zero sources
    "q_label_noise_screen", "q_mmr_diversify", "q_mixture_budget_alloc",
    # layout/symbolization batch: hilbert's driver bounds seam, the
    # day x 24 spine, the weight-total scalar
    "q_hilbert_layout", "q_sax_symbols", "q_negative_sampling_table",
    # walk/forecast/diversity batch: empty frontier joins, the
    # per-type hour spine on zero rows, the entropy grid
    "q_random_walks", "q_snaive_mase", "q_diversity_indices",
    # FDR/HT batch: wide sign-flip aggregate and HT weight scalar on
    # zero rows
    "q_bh_fdr_screen", "q_ht_estimator",
    # retrieval/dedup/embedding batch: WAND's cached impacts on zero
    # postings, the weighted pair join, the centroid half-join
    "q_wand_upper_bounds", "q_centroid_drift",
    # causal/uncertainty batch: arm self-join and order-statistic
    # windows on zero rows
    "q_diff_in_diff", "q_conformal_interval",
    # round-5 batch: the funnel's CC loop + O(stages) summary rows,
    # the sparse-cosine idf scalar, the cogroup merge on empty
    # groups, the empty partitioned layout (schema given explicitly),
    # the empty-stream foreachBatch landing, the UDAF on empty groups
    "q_dedup_funnel", "q_sparse_cosine_pairs", "q_asof_cogroup",
    "q_group_sample_exact_k", "q_trimmed_mean_udaf",
    "q_token_stats_arrow", "q_lateral_topn",
    "q_partitioned_write_prune", "q_streaming_exactly_once_sink",
    "q_parameterized_sql", "q_try_arithmetic",
    # round-5 continuation: the outer-join cutoffs' max(ts) on zero
    # rows (both variants guarded), the SCD2 dimension on no signups,
    # the integer-IRLS medians on empty groups, the CSV/decimal/map
    # paths, and the interleave's two-pass rank on zero rows
    "q_huber_mean", "q_streaming_scd2_enrich",
    "q_streaming_right_outer_join", "q_streaming_left_outer_join",
    "q_bitwise_agg", "q_decimal_exact_money", "q_csv_roundtrip",
    "q_map_hof", "q_interleave_sources",
    "q_streaming_session_dynamic_gap", "q_not_in_null_trap",
    # ratio columns over zero counts
    "q_er_blocking_metrics",
]


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf_empty"))
    for t in TABLES:
        (load_table(spark, "/root/testdata/sf0.001", t)
         .limit(0).write.mode("overwrite").parquet(f"{out}/{t}.parquet"))
    return out


@pytest.mark.parametrize("name", FIXED + SPREAD)
def test_query_survives_empty_tables(spark, empty_dir, name):
    from my_mapreduce_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    df = REGISTRY[name].fn(spark, empty_dir)
    assert runner.count(df) == 0 or name in (
        # global summaries legitimately emit one all-zero/NULL row
        # (or, for the k-core trajectory, one zero row per round)
        "q_dedup_exact", "q_kcore_peel", "q_bloom_filter_fpr",
        "q_funnel_ordered_3step", "q_er_blocking_metrics",
        "q_selfjoin_size_stats", "q_poisson_bootstrap_ci",
        "q_rendezvous_sharding",
        "q_spearman_corr", "q_cohens_kappa", "q_gini_concentration",
        "q_permutation_test", "q_srm_check", "q_graph_assortativity",
        "q_ht_estimator",
        "q_dedup_funnel",   # 3 all-zero funnel-stage rows
        "q_not_in_null_trap")  # 1 all-zero scalar-subquery summary row
    assert df.schema.fields, "schema must survive the empty path"
    spark.catalog.clearCache()
