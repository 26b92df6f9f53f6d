"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship TPC-H-Q1-shape query at sf0.001 (smoke).
queries()     — every declared operator from SURVEY.md §2 (Tier C + D).
oracle_sql()  — DuckDB-runnable ANSI SQL twin for each hash-checkable query.

The declared corpus itself lives in duckdb_ner_spark.plans.registry and is
populated by importing the operator modules below.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

import duckdb_ner_spark.operators  # noqa: F401,E402  (registers declared queries)
from duckdb_ner_spark.plans.registry import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q_agg_group"](spark, "/root/testdata/sf0.001")


# The driver's CORRECTNESS gate verifies the FIRST 50 entries of queries().
# Keep that window ADVERSARIAL, not friendly (VERDICT r2 Next-round #2).
# r14 structure (ADVICE r13 #1 — the old in-comment "budget line" marker was
# off by one): the window is now its OWN list, so the 50-row budget is a
# code-level invariant asserted by tests/test_window_ledger.py, not a comment.
#
# r14 rotation (VERDICT r13 Next-round #8, mechanically stalest-first):
# the 5 queries whose physical plan CHANGED this round lead (plan_ledger
# discipline: plan-changed rows must re-earn a driver row), then the 45
# stalest hash rows — the full r7-green cohort (34 rows, incl. the 9
# displaced below the line in r13: q_consistent_hash … q_emd_drift) and the
# 11 alphabetically-first r8-green rows. Staleness = newest round with
# hash_match=true across CORRECTNESS_r01..r13.
_DRIVER_WINDOW_50 = [
    # r14 plan-changed (re-earning driver rows this round):
    # q_subquery (BROADCAST hint through the decorrelated scalar subquery),
    # q_record_linkage (in-block array scorecard, self-join retired),
    # q_label_prop + q_modularity (pivoted vote argmax, one agg per round),
    # q_bfs_dist (frontier-delta expansion).
    "q_subquery", "q_record_linkage", "q_label_prop", "q_modularity",
    "q_bfs_dist",
    # 34 stalest (r7-green cohort, alphabetical):
    "q_consistent_hash", "q_count_min", "q_curriculum", "q_cusum",
    "q_dedup_keep_best", "q_dialog_assembly", "q_dp_sensitivity",
    "q_drift_tvd", "q_emd_drift", "q_feature_hashing", "q_fim_transform",
    "q_grpo_advantage", "q_hard_negatives", "q_hll_registers", "q_k_anonymity",
    "q_kneser_ney", "q_ks_drift", "q_merkle", "q_moe_router", "q_neyman_alloc",
    "q_ngram_novelty", "q_postings_compression", "q_power_iteration",
    "q_preference_pairs", "q_random_projection", "q_rejection_sampling",
    "q_sim_ivf", "q_skipgram", "q_source_concentration", "q_source_text",
    "q_span_corruption", "q_stream_dedup_incr", "q_stream_quality_gate",
    "q_welch_ttest",
    # 11 next-stalest (r8-green, alphabetical):
    "q_array", "q_bootstrap_ci", "q_bpe_apply", "q_bucket_join", "q_case",
    "q_cast", "q_date", "q_dsar_report", "q_explode", "q_filter",
    "q_grouped_agg_udaf",
]

# Below the driver window: prior-round orderings retained (position here has
# no driver effect — queries() appends every remaining declared query in
# registration order anyway).
_DRIVER_WINDOW_TAIL = [
    "q_maxsim_rerank", "q_langid", "q_quality_score", "q_maxsim_sweep",
    "q_ndcg_eval", "q_stream_langid", "q_topk_bounds", "q_gopher_repetition",
    "q_batch_padding", "q_bloom_dedup", "q_rand_response", "q_maxsim_topk",
    "q_agg_group", "q_join_range", "q_containment", "q_image_dedup",
    "q_jaccard_est", "q_lsh_recall_audit", "q_lsh_sweep", "q_sim_ann",
    "q_simhash_sweep", "q_basket_affinity", "q_having", "q_hist_quantile",
    "q_image_stats", "q_join_cardinality", "q_join_inner", "q_join_interval",
    "q_join_multi", "q_join_outer", "q_join_semi_anti", "q_kmv_distinct",
    "q_multimodal", "q_outlier_mad", "q_rollup", "q_shard_shuffle",
    "q_sim_topk", "q_source_binary", "q_stream_image", "q_window_frame",
    "q_zipf_slope", "q_apportion", "q_assortativity", "q_auc", "q_benford",
    "q_bpe_merges", "q_dedup_embed", "q_dedup_near", "q_chi2_independence",
    "q_fold_split", "q_zorder_prune", "q_rank_eval", "q_rfm_features",
    "q_cc_incr", "q_stream_bloom", "q_quant_sweep", "q_index_delta",
    "q_binary_ann", "q_wsample_priority", "q_vocab_diff", "q_quality_gate",
    "q_rolling_7d", "q_rrf_fusion", "q_seasonal_profile", "q_skew_audit",
    "q_source_overlap", "q_source_stream", "q_stream_cdc", "q_topk_salted",
    "q_transitions", "q_velocity_anomaly", "q_vocab_coverage",
    "q_watermark_sizing", "q_winsorize", "q_agg_filter", "q_agg_global",
    "q_asof", "q_bloom_prune", "q_cross", "q_cte", "q_dedup_clusters",
    "q_dedup_exact", "q_dedup_incr", "q_dedup_ngram", "q_dedup_simhash",
    "q_degree_dist", "q_distinct", "q_embed_cov", "q_embed_join",
    "q_embed_quant", "q_url_dedup", "q_quantile_sketch", "q_ivf_incr",
    "q_binary_sweep", "q_max_concurrency", "q_corpus_diff", "q_suffix_spans",
    "q_substring_packed", "q_substring_incr", "q_suffix_lcp",
    "q_stream_substring_incr", "q_suffix_rank", "q_substring_dedup",
    "q_substring_sparse", "q_substring_scrub", "q_activity_gaps",
    "q_ann_recall", "q_audio_energy", "q_autocorr", "q_bigram_surprisal",
    "q_bm25", "q_canon_dedup_gain", "q_cdc_chunk", "q_cluster_sizes",
    "q_column_profile", "q_compaction_plan", "q_decay_sum", "q_dedup_yield",
    "q_embed_dims", "q_entropy", "q_erasure", "q_first_touch",
    "q_funnel_timing", "q_heaps_law", "q_histogram2d", "q_kmv_join_est",
    "q_kmv_merge", "q_lang_confusion", "q_leakage", "q_mixture_diversity",
    "q_ner_default_empty", "q_normalize_audit", "q_out_of_order",
    "q_pack_efficiency", "q_phrase_search", "q_memorization", "q_pagerank",
    "q_textrank", "q_triangles", "q_ivf_pq", "q_nprobe_sweep", "q_fuzzy",
    "q_grouping_sets", "q_higher_order", "q_histogram", "q_incr_agg",
    "q_lateral", "q_len_quantile", "q_line_dedup", "q_mix_sample",
    "q_nullsafe", "q_pack", "q_part_margin", "q_percentile", "q_pii_scrub",
    "q_pmi", "q_recursive", "q_regex", "q_sessionize", "q_setops_all",
    "q_split", "q_stats", "q_stats2", "q_string2", "q_supplier_balance",
    "q_supplier_rev", "q_surprisal", "q_temperature_mix",
    "q_template_spectrum", "q_time_bucket", "q_token_budget",
    "q_trycast_format", "q_values", "q_window_dist", "q_window_range",
    "q_ab_test",
]

_DRIVER_WINDOW_PRIORITY = _DRIVER_WINDOW_50 + _DRIVER_WINDOW_TAIL


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {n: QUERIES[n] for n in _DRIVER_WINDOW_PRIORITY}
    ordered.update(QUERIES)  # remainder in registration order; no dupes (dict)
    return ordered


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
