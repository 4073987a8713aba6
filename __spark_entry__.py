"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from thrill_spark.plans.queries import ORACLES, QUERIES  # noqa: E402

# The driver's correctness gate checks the FIRST 50 registry entries:
# the changed queries (_R15_CHANGED) first, then the staleness fill.
# _R15_WINDOW holds the 50 stalest names, computed from
# CORRECTNESS_r01..r13 green rows (max green round per name) with the
# r14 window counted as 14. That is the r8 remainder (the 8 names the
# r14 changed-queries push displaced plus the io/layout/ml/multimodal/
# profile/salted families) and the oldest r9 names.
_R15_WINDOW = [
    # last driver-verified r8
    "graph_degree_distribution",
    "graph_link_prediction",
    "interval_join_promotions",
    "io_compact_small_files",
    "io_csv_corrupt_records",
    "io_datasource_wordcount",
    "io_dynamic_partition_pruning",
    "io_manifest_roundtrip",
    "io_python_datasource_lines",
    "io_schema_evolution",
    "io_snapshot_diff",
    "io_xml_roundtrip",
    "io_xz_lines_roundtrip",
    "layout_hilbert_stats",
    "layout_zorder_stats",
    "merge_upsert_orders",
    "ml_embedding_quantize",
    "ml_eval_confusion",
    "ml_feature_hashing",
    "ml_feature_label_covariance",
    "ml_groupwise_ols",
    "ml_negative_sampling",
    "ml_pca_power_iteration",
    "ml_quantile_binning",
    "ml_random_projection",
    "multimodal_real_png_decode",
    "multimodal_real_resize",
    "multimodal_real_wav_decode",
    "profile_data_quality",
    "profile_join_cardinality",
    "profile_key_skew",
    "profile_orders",
    "profile_source_drift",
    "range_join_price_bands",
    "salted_agg_events",
    "salted_join_lineitem_supplier",
    "scd2_orders_status",
    # last driver-verified r9
    "basket_frequent_pairs",
    "cluster_topic_cards",
    "corpus_chunk_dedup_pack",
    "corpus_curation_full",
    "corpus_dedup_by_source",
    "corpus_leakage_check",
    "corpus_length_buckets",
    "corpus_sft_pairs",
    "corpus_shuffle_index",
    "corpus_split_assign",
    "corpus_stratified_sample",
    "corpus_token_budget",
    "corpus_vocab_growth",
]
assert len(_R15_WINDOW) == 50, len(_R15_WINDOW)

# Queries whose CODE PATH changed in rounds 14-15's optimization
# sessions lead the r15 window (VERDICT r14 #2: the r14 optimizer's 25
# changed queries were never in a driver window — first-time driver
# verification of changed paths outranks re-verification of stale
# ones). r15-changed first (doc_offsets honest-stats broadcast fix →
# the ExactSubstr/suffix family; _cc_star observe-fused signatures →
# the CC consumers; random_project literal-sign rewrite → rp/JL;
# adaptive cosine block grid), then the r14 spread/ladder/fixpoint
# set, then _R15_WINDOW staleness fill.
_R15_CHANGED: list[str] = [
    # r15: doc_offsets stats fix (broadcast restored) + ladder advice
    "dedup_exact_substr_coverage",
    "dedup_exact_substr_clean",
    "dedup_exact_substr_sa",
    "dedup_exact_substr_full",
    "suffix_array_dc3",
    "suffix_array_dc7",
    # r15: _cc_star signature-from-checkpoint (Dataset.observe)
    "dedup_pipeline_survivors",
    "dedup_quality_survivors",
    "dedup_cluster_assign",
    "dedup_cluster_histogram",
    "er_customer_linkage",
    "corpus_build_e2e",
    # r15: random_project literal signs + rp_ann codegen rescore
    "ml_random_projection",
    "similarity_rp_ann",
    # r15: adaptive block grid
    "dedup_embedding_cosine",
    # r14 optimizer set never driver-verified (13 spread + ladder/fixpoint)
    "text_repetition_scores",
    "dedup_ngram_cover",
    "dedup_cdc_chunks",
    "dedup_paragraph_boilerplate",
    "dedup_fuzzy_levenshtein",
    "text_bigram_lm",
    "tpch_q1_pricing_summary",
    "tpch_q18_large_volume_customers",
    "inner_join_lineitem_orders",
    "interval_join_promotions",
    "prefix_sum_totalprice",
    "window_disjoint_blocks",
    "zip_with_index_orders",
    "suffix_fm_build",
    "suffix_fm_corpus_build",
    "suffix_lcs_doc01",
    "suffix_longest_repeat_doc0",
    "suffix_lcp_partnames",
    "suffix_array_doc0",
    "suffix_array_quadrupling_doc0",
    "k_core_orders",
    "sssp_weighted_dag",
]

_DRIVER_WINDOW_PRIORITY = (
    _R15_CHANGED + [n for n in _R15_WINDOW if n not in _R15_CHANGED]
)[:50]
assert len(_DRIVER_WINDOW_PRIORITY) == 50, len(_DRIVER_WINDOW_PRIORITY)


def _ordered_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Tolerate priority names that land later in the round; the window
    # is whatever exists of the priority list, topped up in registry
    # order.
    out = {n: QUERIES[n] for n in _DRIVER_WINDOW_PRIORITY if n in QUERIES}
    out.update({n: f for n, f in QUERIES.items() if n not in out})
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's TPC-H acceptance workload
    (lineitem ⋈ orders + aggregation, examples/tpch/tpch_run.cpp:248-255)
    on /root/testdata/sf0.001."""
    return QUERIES["inner_join_lineitem_orders"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for randomized /
    approximate ops → driver records a rows-only check)."""
    qs = _ordered_queries()
    return {n: ORACLES[n] for n in qs if n in ORACLES}
