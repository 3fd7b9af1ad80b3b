"""Plan-quality audit: inspect the physical plan of every registered
query and flag scale smells.

Checks, per query:
- **pushed**  — every query in the curated _REQUIRE_PUSHDOWN list
  (those filtering on base scan columns) must keep >= 1 scan with
  non-empty PushedFilters; for the rest the count is informational
  (filters on derived columns cannot push by construction);
- **pruned**  — no scan reads the full width of a wide (>= 8 col)
  table (ReadSchema field count vs the parquet file's schema width);
- **bcast**   — joins against small dimension tables use
  BroadcastHashJoin, not a shuffled join;
- **codegen** — the plan contains WholeStageCodegen spans;
- **cartesian** — no CartesianProduct / BroadcastNestedLoopJoin
  unless the query is explicitly a theta/cross join;
- **array-broadcast** — no BroadcastExchange whose build side
  carries an array-typed column, unless whitelisted with a
  documented data-independent bound. The round-7 30x scale tier
  proved the pathology: sorted-array relations compress so well
  that AQE's runtime size estimate sits under the broadcast
  threshold while the deserialized rows are corpus-sized — the
  auto-converted broadcast build OOM'd the driver. Corpus-growing
  array relations must never broadcast (merge/shuffle joins spill;
  broadcast builds do not).

Each query is audited by the plan ``runner.audit_plan`` gives: its
registered first-iteration builder, else the executed plan of the last
micro-batch of the stream it runs, else its own DataFrame.

Usage: python tools/explain_audit.py [--sf DIR] [name ...]
Exit code 1 if any non-whitelisted smell is found.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from my_mapreduce_spark.registry import REGISTRY, CapturedPlan  # noqa: E402
from tools import runner  # noqa: E402

# Queries where a nested-loop/cartesian shape is the declared intent
# (theta joins, tiny broadcast tile grids).
_ALLOW_NESTED_LOOP = {
    "q_theta_join_price_band",   # non-equi price band join (declared)
    "q_chi2_independence",       # crossJoin(broadcast(1-row grand
                                 # total)) onto the enum-bounded
                                 # contingency cells — scalar-subquery
                                 # shape
    "q_mutual_information",      # same contingency shape
    "q_cramers_v",               # same contingency shape
    "q_wasserstein_1d",          # crossJoin(broadcast(1-row sample
                                 # sizes)) onto the distinct-cents
                                 # segments — scalar-subquery shape
    "q_scalar_subquery",         # scalar subquery = 1-row broadcast NLJ
    "q_kruskal_wallis",          # crossJoin(broadcast(1-row tie-sum))
                                 # onto the 1-row moment relation, the
                                 # scalar-subquery shape
    "q_decision_stump",          # crossJoin(broadcast(1-row class
                                 # totals)) onto the candidate-split
                                 # relation, same scalar-subquery shape
    "q_naive_bayes_train",       # crossJoin(broadcast(1-row vocab size,
                                 # 1-row doc total)), same scalar-
                                 # subquery shape over O(classes*k) rows
    "q_graph_modularity",        # crossJoin(broadcast(1-row edge total,
                                 # 1-row m_edges)) onto the O(communities)
                                 # term relation / 1-row final agg — the
                                 # scalar-subquery shape twice
    "q_mrout_connector_roundtrip",  # crossJoin(broadcast(1-row filtered
                                    # key count)) onto the 1-row totals
                                    # agg — scalar-subquery shape (first-
                                    # iteration audit plan)
    "q_er_blocking_metrics",     # crossJoin(broadcast(1-row counts)) x3
                                 # assembling the metrics row — the
                                 # scalar-subquery shape
    "q_geo_nearest_hub",         # crossJoin(broadcast(O(k)=25 hub
                                 # table)) — the nearest-facility
                                 # assign; the small side is nation-
                                 # bounded, correct to broadcast at
                                 # any corpus size
    "q_cuped_adjustment",        # crossJoin(broadcast(1-row theta/mean
                                 # moments)), the scalar-subquery shape
    "q_diff_in_diff",            # crossJoin(broadcast(1-row control-arm
                                 # means)), same scalar-subquery shape
    "q_kneser_ney_bigram",       # crossJoin(broadcast(1-row bigram-type
                                 # total)), same scalar-subquery shape
    "q_negative_sampling_table", # crossJoin(broadcast(1-row weight
                                 # total)), same scalar-subquery shape
    "q_bh_fdr_screen",           # crossJoin(broadcast(1-row N/S moments,
                                 # 1-row m, 1-row BH threshold)), the
                                 # scalar-subquery shape three times
    "q_ht_estimator",            # crossJoin(broadcast(1-row exact
                                 # totals)), same scalar-subquery shape
    "q_wand_upper_bounds",       # crossJoin(broadcast(1-row N/avgdl
                                 # stats, 1-row theta)), same
                                 # scalar-subquery shape
    "q_dedup_weighted_minhash",  # crossJoin(broadcast(1-row doc count))
                                 # for the idf weights, same
                                 # scalar-subquery shape
    "q_dedup_icws",              # crossJoin(broadcast(1-row doc count))
                                 # for the real-valued idf weights, same
                                 # scalar-subquery shape
    "q_er_fellegi_sunter",       # crossJoin(broadcast(1-row u-estimate
                                 # aggregate)), same scalar-subquery
                                 # shape
    "q_er_fuzzy_pipeline",       # same 1-row u-estimate broadcast
                                 # (composed linkage pipeline)
    "q_sparse_cosine_pairs",     # same two shapes: term-keyed pair join
                                 # with < on doc_id + crossJoin(
                                 # broadcast(1-row doc count)) for idf
    "q_graph_assortativity",     # crossJoin(broadcast(1-row node count))
                                 # onto the 1-row moment relation, same
                                 # scalar-subquery shape
    "q_mmr_diversify",           # query != candidate broadcast join (the
                                 # whitelisted q_knn_bruteforce shape) +
                                 # candidate-pair joins over the
                                 # |queries| x 20 bounded pool
    "q_mixture_budget_alloc",    # crossJoin(broadcast(1-row char
                                 # budget)), the scalar-subquery shape
    "q_isotonic_calibration",    # PAV minimax range joins over the <=10-row
                                 # reliability-bin relation — conf-bounded
                                 # (bins are a constant), never data-sized
    "q_dedup_ngram_jaccard",     # pair join carries a < on doc_id
    "q_dedup_exact_pairs",
    "q_knn_bruteforce",          # declared O(n^2) verifier
    "q_knn_classifier",          # same broadcast-query-set != join as
                                 # q_knn_bruteforce (the vote consumer
                                 # of the exact top-k)
    "q_kmeans_lloyd",            # corpus scan x broadcast of k=4
                                 # centroid rows per iteration — the
                                 # assign step; k is a constant, the
                                 # correct broadcast
    "q_nearest_centroid_confusion",  # corpus scan x broadcast of the
                                     # |labels| centroid rows — the
                                     # q_kmeans_lloyd assign shape with
                                     # labels as fixed clusters
    "q_geo_morans_i",            # crossJoin(broadcast(1-row cents
                                 # moments / 1-row denominator)) onto
                                 # the cells and pair relations — the
                                 # scalar-subquery shape
    "q_power_iteration_pc1",     # corpus scan x broadcast of the
                                 # 1-row direction vector per
                                 # iteration + 1-row norm scalars —
                                 # the coefficients-broadcast shape
    "q_knn_lsh_buckets",         # corpus scan x broadcast query sketches:
                                 # the hamming prune lives in the join cond
    "q_tfidf_top_terms",         # crossJoin(broadcast(1-row doc count)) =
                                 # scalar-subquery BNLJ, O(n) x 1
    "q22_prospects",             # crossJoin(broadcast(1-row avg balance)),
                                 # same scalar-subquery shape
    "q_unigram_logprob",         # crossJoin(broadcast(1-row token total)),
                                 # same scalar-subquery shape
    "q_bigram_pmi",              # crossJoin(broadcast(two 1-row totals)),
                                 # same scalar-subquery shape
    "q_rfm_segments",            # crossJoin(broadcast(1-row percentile
                                 # boundaries)), same scalar-subquery shape
    "q_dataset_mixture",         # crossJoin(broadcast(1-row sampling
                                 # budget)), same scalar-subquery shape
    "q_mixture_temperature",     # crossJoin(broadcast(1-row total, then
                                 # 1-row power-sum normalizer)), same
                                 # scalar-subquery shape over O(sources)
                                 # rows
    "q_bloom_filter_fpr",        # crossJoin(broadcast(1-row bits_set
                                 # count)) onto the 1-row verdict
                                 # aggregate, same scalar-subquery shape
    "q_cusum_changepoint",       # crossJoin(broadcast(1-row (n, total)))
                                 # onto the O(hours) series, same
                                 # scalar-subquery shape
    "q_groupwise_ols",           # crossJoin(broadcast(1-row min-hour
                                 # origin)), same scalar-subquery shape
    "q_benford_screen",          # crossJoin(broadcast(1-row digit
                                 # total)) onto the 9-row digit table,
                                 # same scalar-subquery shape
    "q_heavy_hitters",           # crossJoin(broadcast(1-row token total)),
                                 # same scalar-subquery shape
    "q_kcore_peel",              # per-round crossJoin of TWO 1-row count
                                 # aggregates (n_nodes x n_edges), fused
                                 # into one lazy stats union — same
                                 # scalar-subquery 1-row BNLJ shape
    "q_selfjoin_size_stats",     # crossJoin of the 1-row stats aggregate
                                 # with the 1-row verifier count, same
                                 # scalar-subquery 1-row BNLJ shape
    "q_ab_test_welch",           # crossJoin of the two 1-row group-stat
                                 # relations (click x purchase), same
                                 # scalar-subquery 1-row BNLJ shape
    "q_kmv_sketch_intersect",    # |types| x |types| sketch-pair join with
                                 # a > condition — both sides are
                                 # k-element-array relations of
                                 # |event types| rows (docstring)
    "q_survival_life_table",     # crossJoin(broadcast(1-row corpus-end
                                 # scalar)), same scalar-subquery shape
    "q_kaplan_meier",            # same 1-row corpus-end broadcast (the
                                 # shared _survival_risk core)
    "q_ks_test",                 # broadcast(|sources| rows) x the
                                 # distinct-value relation = the declared
                                 # ECDF evaluation grid (both sides
                                 # vocabulary-bounded, docstring)
    "q_chisq_independence",      # crossJoin(broadcast(1-row N)) onto the
                                 # categories^2 cell relation, same
                                 # scalar-subquery shape
    "q_walk_forward_splits",     # 1-row min-date scalar onto the per-day
                                 # relation, then the 4-row fold literal
                                 # crossed with ~30 day rows — both the
                                 # whitelisted tiny-broadcast shapes
    "q_learning_curve",          # 4-row fraction literal broadcast
                                 # crossed against the classifier scan
                                 # (the q_dedup_threshold_sweep shape)
    "q_bm25_search",             # crossJoin(broadcast(1-row N/avgdl
                                 # stats)), same scalar-subquery shape
    "q_hybrid_retrieval",        # crossJoin(broadcast(1-row max-score +
                                 # 1-row query vector)), same shape
    "q_source_kl_divergence",    # crossJoin(broadcast(1-row corpus token
                                 # total)), same scalar-subquery shape
    "q_ndcg_eval",               # corpus scan x broadcast query set with a
                                 # != condition — same declared shape as
                                 # q_knn_bruteforce (the ranking IS exact)
    "q_hard_negatives",          # same broadcast-query != shape
    "q_retrieval_recall_mrr",    # same broadcast-query != shape (exact
                                 # scorer; the IVF/PQ funnels replace it
                                 # at scale — docstring)
    "q_aqp_estimate",            # crossJoin(broadcast(1-row exact stats)),
                                 # same scalar-subquery shape
    "q_keyset_pagination",       # crossJoin(broadcast(1-row cursor
                                 # tuple)), same scalar-subquery shape
    "q_basket_brand_affinity",   # crossJoin(broadcast(1-row order
                                 # total)), same scalar-subquery shape
    "q_dedup_threshold_sweep",   # broadcast 7-row threshold table crossed
                                 # against pair scores — same tiny-broadcast
                                 # shape
    "q_term_drift_logodds",      # crossJoin(broadcast(1-row midpoint /
                                 # 3-scalar totals)), same scalar-subquery
                                 # shape
    "q_equidepth_histogram",     # crossJoin(broadcast(1-row decile
                                 # boundary array)), same scalar-subquery
                                 # shape
    "q_window_ntile",            # crossJoin(broadcast(1-row total
                                 # count)) in the two-pass prefix-
                                 # offset ntile, same scalar-subquery
                                 # shape
    "q_source_minhash_sim",      # source<source theta join over
                                 # container-cardinality signature rows
                                 # (~#sources², not #docs²) — tiny by
                                 # construction, broadcast NLJ is right
    "q_cohens_kappa",            # crossJoin of three 1-row aggregates
                                 # (N x diagonal x marginal product) —
                                 # same scalar-subquery shape
    "q_gini_concentration",      # crossJoin(broadcast(1-row total
                                 # count)) in the two-pass prefix-
                                 # offset rank, same scalar-subquery
                                 # shape (the q_window_ntile pattern)
    "q_psi_drift",               # 1-row reference-bounds broadcast onto
                                 # the scan + the |sources| x 10-bin
                                 # completion grid — both whitelisted
                                 # tiny-broadcast shapes
    "q_spearman_corr",           # crossJoin(broadcast(1-row totals))
                                 # inside distributed_row_number (x2),
                                 # same scalar-subquery shape
    "q_decay_weighted_engagement",  # crossJoin(broadcast(1-row
                                 # max-day)), same scalar-subquery
                                 # shape
    "q_vocab_coverage_curve",    # 1-row token total + 5-row threshold
                                 # literal onto the vocabulary-bounded
                                 # rank relation — whitelisted
                                 # tiny-broadcast shapes
    "q_rrf_fusion",              # crossJoin(broadcast(1-row query
                                 # vector)) for the cosine list, same
                                 # scalar-subquery shape (the
                                 # q_hybrid_retrieval pattern)
    "q_crosscorr_leadlag",       # broadcast 7-row lag literal crossed
                                 # against the hour-bounded count
                                 # series, same tiny-broadcast shape
}

# Queries whose filters provably CAN reach a parquet reader (they
# filter on base scan columns). Enforced: each must keep >= 1 scan
# with non-empty PushedFilters — a regression here means a predicate
# that used to reach the reader stopped doing so. Queries filtering
# only on derived columns (exploded tokens, computed hashes, window
# ranks, nanos-arithmetic timestamps) are informational-only: Spark
# cannot push those by construction.
_REQUIRE_PUSHDOWN = {
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_revenue_change", "q_semi_join", "q_anti_join",
    "q13_customer_distribution", "q_correlated_subquery", "q_scalar_subquery",
    "q_theta_join_price_band", "q_math_funcs", "q_date_funcs", "q_set_ops",
    "q_union_by_name", "q_dedup_exact_pairs",
    # (q_knn_ivf left out: its corpus scan feeds a persisted relation
    # reused across training/assign/probe, so no filter can push;
    # q_dedup_ngram_jaccard left out since round 11 for the same
    # reason — its shingle relation is persisted for the three
    # consumers, so the pushed-filter scan lives inside the
    # InMemoryRelation where the formatted plan does not surface it)
    "q_knn_bruteforce", "q_events_sliding_window", "q_asof_join",
    "q_range_join_follow", "q4_late_shipment", "q7_volume_shipping",
    "q10_returned_items", "q12_priority_class", "q14_promo_revenue",
    "q18_large_orders", "q19_disjunctive_filter", "q8_market_share",
    "q_pivot_status", "q_grouping_sets", "q_bucketed_join_noshuffle",
}

# Queries whose read MUST resolve a filter against the partition
# directory listing (PartitionFilters carrying the named column) —
# the planning-time prune is the point of the query, so its absence
# is a smell even though the result would still be correct.
_REQUIRE_PARTITION_PRUNE = {
    "q_partitioned_write_prune": "event_type",  # Hive date/type layout
    "q_knn_ivf_file": "bucket",  # on-disk IVF: probed inverted lists
    "q_knn_ivf_file_refresh": "bucket",  # refreshed IVF: same prune
}

# Queries that genuinely consume (nearly) every column of a wide
# table — e.g. faithful-copy / full-row surfaces.
_ALLOW_FULL_WIDTH = {
    "q_bucketed_join_noshuffle",  # writes faithful bucketed copies first
}

# Queries allowed to run a Window with an EMPTY partition spec over
# input that is not limit-bounded (limit-bounded globals — a
# TakeOrderedAndProject / GlobalLimit descendant of the Window — are
# auto-exempted by the tree walk). Every entry must justify WHY the
# windowed relation is bounded by something other than the data size.
# The smell this gate closes: a single-partition WindowExec whose
# input grows with the fact tables (the pre-fix q_window_ntile shape).
_ALLOW_GLOBAL_WINDOW: dict[str, str] = {
    # conf-bounded: the window runs over per-shuffle-partition counts
    # (<= spark.sql.shuffle.partitions rows) in the two-pass
    # prefix-offset rank — the pattern that REPLACES global windows
    "q_vocab_rank_scalable": "window over per-partition counts, <= "
                             "shuffle.partitions rows by construction",
    "q_window_ntile": "same prefix-offset machinery: window input is "
                      "the per-partition count relation, conf-bounded",
    "q_spearman_corr": "two distributed_row_number passes: windows over "
                       "per-partition counts, conf-bounded",
    "q_gini_concentration": "distributed_row_number: window over "
                            "per-partition counts, conf-bounded",
    "q_interleave_sources": "distributed_row_number: global_pos window "
                            "over per-partition counts, conf-bounded "
                            "(the within-source window is partitioned)",
    "q_shard_pack_cumsum": "distributed_prefix_sum: window over "
                           "per-partition TOTALS, conf-bounded",
    "q_curriculum_order": "distributed_row_number: window over "
                          "per-partition counts, conf-bounded",
    "q_er_blocking_metrics": "distributed_row_number: window over "
                             "per-partition counts, conf-bounded",
    "q_kruskal_wallis": "distributed_prefix_sum over tie-group counts: "
                        "window input is the per-partition TOTALS "
                        "relation, conf-bounded",
    "q_decision_stump": "two distributed_prefix_sum passes (counts, "
                        "positives): windows over per-partition "
                        "TOTALS, conf-bounded",
    "q_vocab_coverage_curve": "both rank and cumsum ride the two-pass "
                              "machinery: windows over per-partition "
                              "summaries, conf-bounded",
    "q_pack_sequences": "window over bucket counts, <= 65536 rows "
                        "by the bounded second level (corpus_ops.py)",
    "q_mixture_budget_alloc": "rank/cumsum windows over the per-SOURCE "
                              "relation (|sources| rows at any data "
                              "scale), never document-sized",
    "q_bh_fdr_screen": "BH step-up rank over the per-SOURCE p-value "
                       "relation (|sources| rows at any data scale)",
    # vocabulary/bucket-bounded cumulative or rank windows
    "q_zipf_slope": "rank window over the token vocabulary (bounded "
                    "by the language, not the corpus — docstring)",
    "q_ngram_novelty_curve": "cumulative sum over ingest-bucket rows "
                             "(corpus size / bucket width — curve "
                             "resolution, orders below doc count)",
    "q_cusum_changepoint": "cumulative sum over the hourly series — "
                           "calendar-bounded (720 rows/month), orders "
                           "below event count (docstring)",
    "q_survival_life_table": "suffix sum over the duration-minute "
                             "relation (gap-bounded: <= gap-width/"
                             "granularity + tail rows, independent of "
                             "corpus size — docstring)",
    "q_kaplan_meier": "risk suffix sum + KM prefix sum + zero-flag "
                      "cummax, all over the SAME gap-bounded "
                      "duration-minute relation as "
                      "q_survival_life_table (shared _survival_risk "
                      "core — docstring)",
    "q_mann_whitney_u": "prefix sum over the DISTINCT-cents value "
                        "relation (value-cardinality bounded; "
                        "continuous metrics must pre-bucket — the "
                        "q_ks_test contract, docstring)",
    "q_wasserstein_1d": "CDF prefix sums + lead over the "
                        "DISTINCT-cents value relation (same "
                        "q_ks_test value-cardinality bound, "
                        "docstring)",
    "q_ks_test": "cumulative/total windows over the DISTINCT n_chars "
                 "value relation (value-cardinality bounded; continuous "
                 "columns must pre-bucket — docstring contract shared "
                 "with q_quantile_normalize / q_roc_auc)",
    "q_sorted_neighborhood_pairs": "distributed_row_number: window "
                                   "over per-partition counts, "
                                   "conf-bounded",
    "q_er_fuzzy_pipeline": "distributed_row_number: window over "
                           "per-partition counts, conf-bounded "
                           "(sorted-neighborhood candidate stage)",
    "q_gains_table": "cumulative/total windows over DISTINCT score "
                     "values (value-cardinality bounded by the "
                     "n_chars length cap, never over documents — "
                     "docstring; the grouped twin q_quantile_"
                     "normalize partitions by source)",
}

# Queries allowed to broadcast an ARRAY-typed build side. Every entry
# must state why the relation is bounded by something other than the
# data size (query sets, sketches, 1-row scalar aggregates, literal
# grids) — a corpus-growing array relation in this list would be the
# exact 30x-tier OOM replayed.
#
# The whitelist no longer skips the array-broadcast passes (round-9
# advice: a corpus-sized array join landing LATER in a whitelisted
# query would have gone unchecked). Both passes run for EVERY audited
# query; for whitelisted names, up to _ALLOW_ARRAY_BROADCAST_MAX_HITS
# hits per pass are suppressed as the documented parameter-bounded
# broadcasts, and any hit BEYOND that bound is a smell like anywhere
# else. Bounds were measured on 2026-08-16 (static/dynamic counts at
# sf0.01): 2 for q_kmeans_lloyd (centroid relation built twice —
# assignment + update), 1 for everything else (single query-set /
# sketch / scalar-subquery build side).
_ALLOW_ARRAY_BROADCAST_MAX_HITS = {"q_kmeans_lloyd": 2}  # default 1

_ALLOW_ARRAY_BROADCAST: dict[str, str] = {
    "q_kmeans_lloyd": "broadcast side is the k x dim centroid "
                      "relation (4 x 64 doubles) — constant-bounded "
                      "by the algorithm, never corpus-growing",
    "q_power_iteration_pc1": "broadcast side is the 1 x dim direction "
                             "vector (64 doubles) — dim-bounded, "
                             "never corpus-growing",
    # the broadcast is the QUERY SET — a caller parameter of bounded
    # cardinality (|queries| x d doubles), not a corpus-growing
    # relation; the corpus side streams past it un-broadcast
    "q_knn_bruteforce": "query-set vectors (parameter-bounded)",
    "q_knn_lsh_buckets": "query-set vectors + sketch keys (parameter)",
    "q_knn_ivf": "query-set vectors + probe buckets (parameter)",
    "q_knn_ivf_pq": "query-set vectors (parameter-bounded) — the "
                    "exact-rerank tail's broadcast, same shape as "
                    "q_knn_pq_adc",
    "q_knn_pq_adc": "query-set vectors / ADC tables (parameter)",
    "q_knn_rp_forest": "query-set vectors (parameter-bounded); the "
                       "corpus-side vector join is merge-hinted",
    "q_knn_classifier": "query-set vectors + labels (parameter)",
    "q_nearest_centroid_confusion": "|labels| x dim centroid arrays — "
                                    "constant-bounded by the label "
                                    "vocabulary (the q_kmeans_lloyd "
                                    "centroid shape)",
    "q_ndcg_eval": "query-set vectors + labels (parameter-bounded)",
    "q_hard_negatives": "query-set vectors + labels (parameter)",
    "q_retrieval_recall_mrr": "query-set vectors + labels (parameter)",
    "q_mmr_diversify": "query-set vectors (parameter-bounded)",
    "q_hybrid_retrieval": "1-row query vector (scalar-subquery shape)",
    "q_rrf_fusion": "1-row query vector (scalar-subquery shape)",
    # sketch relations: |event types| rows x k-element arrays — the
    # whole point of sketching is that this is constant-bounded
    "q_kmv_sketch_intersect": "|types| x k-minimum-value sketches",
    # one row holding the decile boundary array (scalar subquery)
    "q_equidepth_histogram": "1-row decile-boundary array",
}

_WIDE = 8  # a scan reading >= this many columns must be pruning something


def _table_widths(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    widths = {}
    for f in os.listdir(sf_dir):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(sf_dir, f)
        if os.path.isdir(path):
            # Spark-written dataset dir (the scale_probe tiers): read
            # the footer of any one part file
            parts = [p for p in os.listdir(path)
                     if p.endswith(".parquet") and not p.startswith(("_", "."))]
            if not parts:
                continue
            path = os.path.join(path, parts[0])
        widths[f[:-8]] = len(pq.read_schema(path).names)
    return widths


def _scan_blocks(plan: str):
    """Yield (table, n_read_cols, pushed_filters_nonempty) per parquet
    scan node in a formatted plan (node detail sections start with
    "(N) Scan parquet" and run until the next "(N) " header)."""
    for block in re.finditer(
            r"\(\d+\) Scan parquet[^\n]*\n(.*?)(?=\n\(\d+\) |\Z)", plan, re.S):
        text = block.group(1)
        loc = re.search(r"Location:[^\n]*/([^/\]\n]+)\]", text)
        schema = re.search(r"ReadSchema: struct<([^\n]*)", text)
        if not loc or not schema:
            continue
        table = loc.group(1).removesuffix(".parquet")
        fields = [f for f in schema.group(1).split(",") if ":" in f]
        pushed = bool(re.search(r"PushedFilters: \[[^\]]", text))
        yield table, len(fields), pushed


def _toplevel_groups(s: str) -> list[str]:
    """Split a formatted-plan Arguments line into its top-level
    ``[...]`` groups. A Window node prints ``[exprs],
    [partitionSpec], [orderSpec]`` (3 groups) when both are present;
    with only one of the two specs it prints 2 groups, and the specs
    are told apart by content (order-spec entries carry ASC/DESC)."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start:i])
    return groups


def _global_window_ids(plan: str) -> list[int]:
    """Node ids of Window nodes with an EMPTY partition spec — these
    execute as a single-task WindowExec over their whole input."""
    ids = []
    for m in re.finditer(r"\((\d+)\) Window\n(.*?)(?=\n\(\d+\) |\Z)",
                         plan, re.S):
        args = re.search(r"Arguments: (.*)", m.group(2))
        if not args:
            continue
        groups = _toplevel_groups(args.group(1))
        # 3 groups -> partitioned; 2 groups -> global iff the trailing
        # group is an ORDER spec (ASC/DESC markers), i.e. no partition
        # spec; 1 group (bare agg-over-all window) is global too.
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue  # [exprs], [partitionSpec] — partitioned, no order
        ids.append(int(m.group(1)))
    return ids


def _limit_bounded(plan: str, node_id: int) -> bool:
    """True iff the plan tree shows a limit operator as a DESCENDANT
    of the given node — i.e. the windowed input was already cut to a
    constant row count before reaching the single partition."""
    lines = plan.split("\n")
    pat = re.compile(rf"\({node_id}\)\s*$")
    indent_of = lambda ln: len(re.match(r"^[\s:+*\-]*", ln).group(0))
    for i, ln in enumerate(lines):
        if pat.search(ln) and "Window" in ln:
            base = indent_of(ln)
            for sub in lines[i + 1:]:
                if not sub.strip() or indent_of(sub) <= base:
                    break
                if re.search(r"TakeOrderedAndProject|GlobalLimit|"
                             r"CollectLimit|LocalLimit", sub):
                    return True
    return False


def _walk_array_broadcasts(root) -> list[str]:
    """Walk a physical-plan tree (recursing INTO QueryStage wrappers,
    which report no children() but hold their stage plan behind
    ``.plan()``) and collect the schema catalog string of every
    BroadcastExchange build side carrying an array-typed column."""
    found = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if "BroadcastExchange" in cls:
            cat = node.children().apply(0).schema().catalogString()
            if "array<" in cat:
                found.append(cat[:100])
        if "QueryStage" in cls:
            walk(node.plan())
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(root)
    return found


def _array_broadcast_builds(qe) -> list[str]:
    """STATIC pass: schema catalog strings (truncated) of every
    BroadcastExchange build side carrying an array-typed column — the
    compressed-size-lies-to-AQE pathology the 30x scale tier exposed.

    Walks ``qe.executedPlan()`` WITHOUT executing it — under AQE that
    is the initial ``AdaptiveSparkPlanExec`` plan, i.e. only
    broadcasts the STATIC planner chose (stats-/hint-driven) are
    visible here. AQE's *runtime* shuffle-to-broadcast conversions
    (the exact move that OOM'd the 30x tier) are covered by the
    EXECUTED second pass, :func:`adaptive_array_broadcasts`, which
    main() runs for every audited query whose static plan carries a
    shuffled join (the only shape AQE can convert). executedPlan
    (not sparkPlan) is required because exchanges are inserted by
    EnsureRequirements. Subquery plans are separate trees and not
    walked — the main-tree build sides are where the 30x OOM lived."""
    return _walk_array_broadcasts(qe.executedPlan())


def adaptive_array_broadcasts(df) -> list[str]:
    """DYNAMIC pass (round-8 verdict #1): EXECUTE the plan under AQE
    and walk the FINAL adaptive plan, so runtime shuffle-to-broadcast
    conversions of an array build side — invisible to the static
    pass by construction — are caught too. Executes through
    ``runner.count``, which runs the dataframe's OWN QueryExecution
    instance (a write/collect would plan a fresh one and leave this
    instance un-finalized), then reads the materialized final plan
    back with ``.executedPlan()``; QueryStage wrappers (how a
    finalized AQE tree packages exchanges) are unwrapped by the
    shared walker. Cost: one full execution of the
    query at the audit SF — main() only pays it where a conversion
    is possible (static plan has SortMergeJoin/ShuffledHashJoin)."""
    ep = df._jdf.queryExecution().executedPlan()
    cls = ep.getClass().getSimpleName()
    if "AdaptiveSparkPlan" not in cls:
        # AQE off or plan not adaptive-eligible: the static pass
        # already saw the only plan there is
        return _walk_array_broadcasts(ep)
    runner.count(df)  # triggers getFinalPhysicalPlan on THIS instance
    return _walk_array_broadcasts(ep.executedPlan())


def audit(name: str, plan: str, codegen_subtrees: int,
          widths: dict[str, int]) -> list[str]:
    smells = []
    if codegen_subtrees == 0:
        smells.append("no-codegen")
    if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) \
            and name not in _ALLOW_NESTED_LOOP:
        smells.append("nested-loop-join")
    # every equi-join with nation/region/supplier/part/customer should broadcast
    if re.search(r"SortMergeJoin", plan) and re.search(
            r"Scan parquet[^\n]*(nation|region|supplier)", plan):
        smells.append("shuffled-dim-join")
    scans = list(_scan_blocks(plan))
    # pruned: no scan may read the full width of a wide table
    if name not in _ALLOW_FULL_WIDTH:
        for table, n_cols, _ in scans:
            if n_cols >= _WIDE and n_cols >= widths.get(table, 99):
                smells.append(f"unpruned-scan:{table}")
    # pushed: queries known to filter on base scan columns must keep
    # at least one scan with non-empty PushedFilters
    if name in _REQUIRE_PUSHDOWN and not any(p for _, _, p in scans):
        smells.append("no-pushdown")
    # partition-prune: the declared column must reach PartitionFilters
    # on some scan (planning-time listing prune, not a data filter)
    if name in _REQUIRE_PARTITION_PRUNE:
        col = _REQUIRE_PARTITION_PRUNE[name]
        if not re.search(
                rf"PartitionFilters: \[[^\]]*\b{col}\b", plan):
            smells.append(f"no-partition-prune:{col}")
    # global-window: a Window with an empty partition spec funnels its
    # whole input through one task — forbidden on unbounded input
    # (auto-exempt when a limit operator bounds the input below it;
    # whitelist entries document data-independent bounds)
    if name not in _ALLOW_GLOBAL_WINDOW:
        for wid in _global_window_ids(plan):
            if not _limit_bounded(plan, wid):
                smells.append(f"global-window:{wid}")
    # dup-scan: the same table read 5+ times in one plan is a
    # structural accident (the round-4 finding: _normed(emb) joined
    # back onto emb just to recover a metadata column — 6 scans where
    # 3 suffice). 2-4 reads stay unflagged ON PURPOSE: at 100 TB,
    # re-reading a pruned+pushed-down scan per aggregate is routinely
    # CHEAPER than pinning a corpus-sized relation in cluster memory,
    # and multi-aggregate queries (pmi, tf-idf, dq checks) legitimately
    # make 3-4 cheap passes. The gate catches accidents, not the
    # scan-vs-cache tradeoff.
    per_table: dict[str, int] = {}
    for table, _, _ in scans:
        per_table[table] = per_table.get(table, 0) + 1
    for table, cnt in per_table.items():
        if cnt >= 5:
            smells.append(f"dup-scan:{table}x{cnt}")
    return smells


def _audit_one(spark, name: str, sf_dir: str, widths: dict,
               static_only: bool, verbose: bool, df) -> dict:
    """The audit record of one query, from the plan
    ``runner.audit_plan`` returned (``df``); prints its one-line
    verdict."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    captured = isinstance(df, CapturedPlan)
    if captured:
        # streaming dataflow: building the query ran the stream and
        # captured the LAST micro-batch's IncrementalExecution —
        # same smell checks over its formatted/codegen strings,
        # array walk over its (already-executed) physical tree
        plan = df.formatted
        codegen_str = df.codegen
    else:
        qe = df._jdf.queryExecution()
        plan = qe.explainString(mode.fromString("formatted"))
        codegen_str = qe.explainString(mode.fromString("codegen"))
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", codegen_str)
    smells = audit(name, plan, int(m.group(1)) if m else 0, widths)
    # array-broadcast passes run for EVERY query; whitelisted
    # names get their documented per-pass hit budget suppressed
    # (default 1), so an UNDOCUMENTED second array broadcast in a
    # whitelisted query still smells (round-9 advice item)
    allowed_hits = (_ALLOW_ARRAY_BROADCAST_MAX_HITS.get(name, 1)
                    if name in _ALLOW_ARRAY_BROADCAST else 0)
    aqe_checked = False
    static_hits = (_walk_array_broadcasts(df.jplan) if captured
                   else _array_broadcast_builds(qe))
    for cat in static_hits[allowed_hits:]:
        smells.append(f"array-broadcast:{cat[:60]}")
    # dynamic pass: only a shuffled join can be converted to a
    # broadcast at runtime, so only those plans are executed.
    # Captured micro-batch plans skip it — they ARE executed
    # plans, and micro-batches never re-plan under AQE.
    if captured:
        aqe_checked = True
    elif not static_only and re.search(
            r"SortMergeJoin|ShuffledHashJoin", plan):
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        try:
            adf = runner.audit_plan(spark, name, sf_dir)
            for cat in adaptive_array_broadcasts(adf)[allowed_hits:]:
                smells.append(f"aqe-array-broadcast:{cat[:60]}")
            aqe_checked = True
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    bcast = plan.count("BroadcastHashJoin")
    tag = "SMELL " + ",".join(smells) if smells else "ok"
    print(f"  {name}: {tag} (pushed_scans={pushed} bcast_joins={bcast})")
    if verbose and smells:
        print(plan)
    rec = {"clean": not smells, "smells": smells,
           "pushed_scans": pushed, "bcast_joins": bcast,
           "aqe_checked": aqe_checked,
           "codegen_subtrees": int(m.group(1)) if m else 0}
    if captured:
        rec["audited_via"] = "last-microbatch"
    elif REGISTRY[name].audit_fn is not None:
        rec["audited_via"] = "first-iteration"
        rec["audit_note"] = REGISTRY[name].audit_note
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument("--out", default=None, metavar="JSON",
                    help="write per-query audit records (merge-updates "
                         "an existing file when auditing a subset, the "
                         "check_correctness --out contract)")
    ap.add_argument("--static-only", action="store_true",
                    help="skip the executed AQE pass (adaptive_array_"
                         "broadcasts) — plans-only mode for fast "
                         "iteration; the sealed artifact must be "
                         "produced WITHOUT this flag")
    args = ap.parse_args()
    spark = runner.start("explain-audit")
    # AQE wraps the plan in an unexecuted AdaptiveSparkPlan that
    # reports 0 codegen subtrees; disable it for static inspection
    # (production sessions keep it on — session.py).
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    names = args.names or list(REGISTRY)
    widths = _table_widths(args.sf)
    record: dict[str, dict] = {}
    for name in names:
        # audit each plan standalone: a prior query's persist() would
        # otherwise substitute InMemoryRelation for plan-identical
        # scans (CacheManager matches at registration, even without
        # execution), hiding the parquet scan this audit inspects.
        # The runner's release after each query drops the RDD-level
        # pins (localCheckpoint) this catalog clear leaves in place.
        spark.catalog.clearCache()
        record[name] = runner.run(
            spark, name, args.sf,
            lambda df: _audit_one(spark, name, args.sf, widths,
                                  args.static_only, args.verbose, df),
            fn=lambda s, d: runner.audit_plan(s, name, d)).result()
    bad = sum(bool(r["smells"]) for r in record.values())
    print(f"{len(names) - bad}/{len(names)} clean")
    if args.out:
        record = runner.write_artifact(args.out, record, bool(args.names),
                                       newline=False)
        print(f"wrote {args.out} ({len(record)} entries)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
