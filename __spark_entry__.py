"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship TPC-H-Q1-shape query at sf0.001 (smoke).
queries()     — every declared operator from SURVEY.md §2 (Tier C + D).
oracle_sql()  — DuckDB-runnable ANSI SQL twin for each hash-checkable query.

The declared corpus itself lives in duckdb_ner_spark.plans.registry and is
populated by importing the operator modules below.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {n: QUERIES[n] for n in _DRIVER_WINDOW_50}
    ordered.update(QUERIES)  # remainder in registration order; no dupes (dict)
    return ordered


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
