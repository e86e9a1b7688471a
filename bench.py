"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full computation, no
driver collect — the honest distributed cost).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from tablite_spark import get_spark
from tablite_spark.config import host_cpus

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_revenue",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive_filter",
    "groupby_rollup",
    "filter_pass",
    "groupby_accumulators",
    "join_inner",
    "join_left",
    "slice_step",
    "lookup_first_match",
    "window_running_sum",
    "pivot_wide",
    "sessionize_events",
    "dedup_exact",
    "text_stats",
    "doc_fingerprint",
    "embedding_topk",
    "minhash_dedup_docs",
    "near_dup_embeddings",
    "language_id_docs",
    "multimodal_decode",
    "dedup_clusters",
    "chunk_docs",
    "contamination_docs",
    "pack_chunks_docs",
    # round-4 additions (excluded from r2_comparable_total)
    "perplexity_docs",
    "line_dedup_docs",
    "semantic_dedup_embeddings",
    # round-5 operators, benched from round 6 (excluded from
    # r2_comparable_total): the newest, least-burned-in code gets a
    # tracked cost so regressions are visible
    "substring_dedup_docs",
    "gopher_quality_docs",
    "pretrain_filter_docs",
    "pq_topk_embeddings",
    "ivfpq_topk_embeddings",
    # round-6 operators
    "zorder_events",
    "pack_sequences_docs",
    "bm25_search_docs",
    "bucketed_join_revenue",
    "quality_classifier_docs",
    "pretrain_e2e_docs",
    # round-7 operators (excluded from r2_comparable_total): the
    # newest, least-burned-in code gets a tracked cost
    "incremental_minhash_dedup_docs",
    "cluster_dedup_keep_best_docs",
    "kmeans_embeddings",
    "preference_pairs_docs",
    "hybrid_search_docs",
    "hard_negatives_embeddings",
    "pagerank_lineitem",
    "snapshot_diff_docs",
    "gopher_repetition_docs",
    "gopher_dup_ngrams_docs",
    # round-8 operators (excluded from r2_comparable_total): the
    # newest, least-burned-in code gets a tracked cost
    "ohlc_resample_events",
    "funnel_events",
    "phrase_search_docs",
    "bloom_contamination_docs",
    "batched_topk_embeddings",
    # round-8 tail, promoted from meta-only stamps to the compact
    # line in round 9 (VERDICT r8 item 3; excluded from
    # r2_comparable_total). trigram_substring_docs joins them from
    # probe_benchmarks (probe-only against a pre-built index).
    "retention_cohorts_events",
    "bpe_train_docs",
    "interpolate_events",
    "fuzzy_join_diverse_110k",
    # round-9 operators (excluded from r2_comparable_total): the
    # newest, least-burned-in code gets a tracked cost
    "ema_events",
    "dsir_weights_docs",
    "pca_covariance_embeddings",
    "ab_welch_events",
    "tfidf_keywords_docs",
    "winnow_matches_docs",
    # round-10: the r9 tail promoted (winnow fingerprint-only steady
    # state, distinct from the match stage; dsir top-k selection,
    # expected to inherit the weights row's cost model) plus the five
    # round-10 operators (excluded from r2_comparable_total)
    "winnow_fps_docs",
    "dsir_select_docs",
    "corr_matrix_lineitem",
    "group_quantiles_events",
    "mutual_info_docs",
    "rolling_avg_events",
    "state_intervals_events",
    "outliers_events",
    "jaccard_join_docs",
    "path_ngrams_events",
    "spearman_corr_lineitem",
    # round-11 operators (excluded from r2_comparable_total): the
    # newest, least-burned-in code gets a tracked cost
    "ks_test_events",
    "chi2_docs",
    "equidepth_hist_events",
    "heavy_hitters_docs",
    "markov_events",
    "target_encode_orders",
    "outliers_mad_events",
    "benford_orders",
    "acf_events",
    "attribution_events",
    "auc_events",
    "calibration_events",
    "confusion_events",
    "ols_lineitem",
    "km_survival_events",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q15_top_supplier",
    "gini_orders",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_parts",
    "q12_late_shipments",
    "q16_supplier_part_counts",
    "q17_small_qty_revenue",
    "q20_promo_suppliers",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    "cusum_events",
    "expectations_orders",
    "feature_scale_lineitem",
    "weighted_quantiles_lineitem",
    "seasonal_anomalies_events",
    "winsorize_lineitem",
    "zipf_alpha_docs",
    "bigram_lm_docs",
    "stream_zscore_events",
    "isotonic_calibration_events",
    "referential_audit_orders",
    "json_props_events",
    "ranking_metrics_docs",
    "logrank_events",
    "psi_orders_drift",
    "gains_table_events",
    "group_cusum_events",
    "column_entropy_docs",
    "pmi_collocations_docs",
    "session_summary_events",
    "association_rules_lineitem",
    "funnel_window_events",
    "additive_seasonal_events",
    "interarrival_events",
    "bootstrap_ci_orders",
    "active_users_events",
    "category_index_orders",
    "quantile_discretize_lineitem",
    # round-12 additions (excluded from r2_comparable_total): the
    # three new execution paths (ungrouped halo-bucket rolling,
    # interval active-user engine, hot-basket valve) and the eighth
    # wave (CDC upsert, multi-touch credit, join-skew census)
    "rolling_global_events",
    "active_users_interval_events",
    "association_rules_capped_lineitem",
    "merge_upsert_orders",
    "multi_touch_events",
    "skew_report_lineitem",
    "stream_upsert_events",
    "top_k_per_group_lineitem",
    # round-13 additions (excluded from r2_comparable_total): TWAP
    # exact-decimal accumulation, Nelson-Aalen census prefix,
    # per-doc code-point entropy, conversion lag
    "time_weighted_avg_events",
    "nelson_aalen_events",
    "char_entropy_docs",
    "conversion_lag_events",
    "stream_session_events",
    "mom_growth_orders",
    "hist2d_events",
    "fit_apply_scale_events",
    "item_cosine_lineitem",
    "stream_interval_join_events",
    # round-14 wave
    "stream_interval_join_outer_events",
    "exactly_once_sink_events",
    "stream_dedup_watermark_events",
    "rfm_segments_orders",
    "mann_whitney_events",
    "revenue_concentration_orders",
    "kfold_splits_docs",
    "grouped_weighted_median_lineitem",
    "bollinger_events",
    "tokenizer_fertility_docs",
    "stream_session_timeout_events",
    "triangle_count_lineitem",
    "stream_matview_events",
    # round-14 fourteenth wave
    "hll_distinct_events",
    "skyline_orders",
    "spatial_pairs_customers",
    "bfs_hops_lineitem",
    # round-14 fifteenth wave
    "kmv_jaccard_events",
    "bloom_semi_join_lineitem",
    "assortativity_lineitem",
    # round-14 sixteenth wave
    "kcore_lineitem",
    "dbscan_customers",
    # round-14 seventeenth wave
    "cms_tokens_docs",
    "hyperball_lineitem",
    # round-14 eighteenth wave
    "temporal_reach_lineitem",
    # round-14 nineteenth wave
    "ppr_lineitem",
    # round-14 twentieth wave
    "script_mix_docs",
    "theil_sen_orders",
    "stream_static_join_events",
]


# Post-round-2 additions, by round — every BENCH_QUERIES entry
# registered after round 2 MUST appear in exactly one of these sets
# or it silently inflates r2_comparable_total (happened in r6 and
# again in r13; test_layout.py now guards the invariant).
new_in_r3 = {"dedup_clusters", "chunk_docs", "contamination_docs",
             "pack_chunks_docs"}
new_in_r4 = {"perplexity_docs", "line_dedup_docs",
             "semantic_dedup_embeddings"}
new_in_r6 = {"substring_dedup_docs", "gopher_quality_docs",
             "pretrain_filter_docs", "pq_topk_embeddings",
             "ivfpq_topk_embeddings", "zorder_events",
             # these five were benched from r6 but missing from
             # the exclusion set, quietly inflating
             # r2_comparable_total — fixed in r7 (the r6/r7
             # records' r2 subtotals are therefore not directly
             # comparable; per-query rows are)
             "pack_sequences_docs", "bm25_search_docs",
             "bucketed_join_revenue", "quality_classifier_docs",
             "pretrain_e2e_docs"}
new_in_r7 = {"incremental_minhash_dedup_docs",
             "cluster_dedup_keep_best_docs", "kmeans_embeddings",
             "preference_pairs_docs", "hybrid_search_docs",
             "hard_negatives_embeddings", "pagerank_lineitem",
             "snapshot_diff_docs"}
new_in_r8 = {"ohlc_resample_events", "funnel_events",
             "phrase_search_docs", "bloom_contamination_docs",
             "batched_topk_embeddings"}
new_in_r9 = {"retention_cohorts_events", "bpe_train_docs",
             "interpolate_events", "fuzzy_join_diverse_110k",
             "ema_events", "dsir_weights_docs",
             "pca_covariance_embeddings", "ab_welch_events",
             "tfidf_keywords_docs", "winnow_matches_docs"}
new_in_r10 = {"winnow_fps_docs", "dsir_select_docs",
              "corr_matrix_lineitem", "group_quantiles_events",
              "mutual_info_docs", "rolling_avg_events",
              "state_intervals_events", "outliers_events",
              "jaccard_join_docs", "path_ngrams_events",
              "spearman_corr_lineitem"}
new_in_r11 = {"ks_test_events", "chi2_docs",
              "equidepth_hist_events", "heavy_hitters_docs",
              "markov_events", "target_encode_orders",
              "outliers_mad_events", "benford_orders",
              "acf_events", "attribution_events",
              "auc_events", "calibration_events",
              "confusion_events", "ols_lineitem",
              "km_survival_events", "q7_volume_shipping",
              "q8_market_share", "q10_returned_items",
              "q13_customer_distribution", "q15_top_supplier",
              "gini_orders", "q2_min_cost_supplier",
              "q9_product_profit", "q11_important_parts",
              "q12_late_shipments", "q16_supplier_part_counts",
              "q17_small_qty_revenue", "q20_promo_suppliers",
              "q21_waiting_suppliers", "q22_dormant_customers",
              "cusum_events", "expectations_orders",
              "feature_scale_lineitem",
              "weighted_quantiles_lineitem",
              "seasonal_anomalies_events",
              "winsorize_lineitem", "zipf_alpha_docs",
              "bigram_lm_docs", "stream_zscore_events",
              "isotonic_calibration_events",
              "referential_audit_orders", "json_props_events",
              "ranking_metrics_docs", "logrank_events",
              "psi_orders_drift", "gains_table_events",
              "group_cusum_events", "column_entropy_docs",
              "pmi_collocations_docs", "session_summary_events",
              "association_rules_lineitem",
              "funnel_window_events",
              "additive_seasonal_events", "interarrival_events",
              "bootstrap_ci_orders", "active_users_events",
              "category_index_orders",
              "quantile_discretize_lineitem"}
new_in_r12 = {"rolling_global_events",
              "active_users_interval_events",
              "association_rules_capped_lineitem",
              "merge_upsert_orders", "multi_touch_events",
              "skew_report_lineitem", "stream_upsert_events",
              "top_k_per_group_lineitem"}
new_in_r13 = {"time_weighted_avg_events", "nelson_aalen_events",
              "char_entropy_docs", "conversion_lag_events",
              "stream_session_events", "mom_growth_orders",
              "hist2d_events", "fit_apply_scale_events",
              "item_cosine_lineitem", "stream_interval_join_events"}
new_in_r14 = {"stream_interval_join_outer_events",
              "exactly_once_sink_events",
              "stream_dedup_watermark_events",
              "rfm_segments_orders", "mann_whitney_events",
              "revenue_concentration_orders", "kfold_splits_docs",
              "grouped_weighted_median_lineitem", "bollinger_events",
              "tokenizer_fertility_docs",
              "stream_session_timeout_events",
              "triangle_count_lineitem", "stream_matview_events",
              "hll_distinct_events", "skyline_orders",
              "spatial_pairs_customers", "bfs_hops_lineitem",
              "kmv_jaccard_events", "bloom_semi_join_lineitem",
              "assortativity_lineitem", "kcore_lineitem",
              "dbscan_customers", "cms_tokens_docs",
              "hyperball_lineitem", "temporal_reach_lineitem",
              "ppr_lineitem", "script_mix_docs", "theil_sen_orders",
              "stream_static_join_events"}
POST_R2_SETS = (new_in_r3 | new_in_r4 | new_in_r6 | new_in_r7
               | new_in_r8 | new_in_r9 | new_in_r10 | new_in_r11
               | new_in_r12 | new_in_r13 | new_in_r14)


# Stable sub-second rows moved OUT of the printed compact line to make
# room for the round-8/9 entries above (the driver parses only the
# last 2000 stdout chars). They are still measured every round with
# min-of-2 + loadavg stamps and recorded under ``queries`` in the
# committed BENCH_META file — nothing stops being tracked, only the
# driver-visible line is curated. Chosen for 3 rounds of flat history
# (r7→r8 spread <0.3 s) and no VERDICT drift mention.
COMPACT_LINE_SHED = {
    "lookup_first_match", "doc_fingerprint", "groupby_rollup",
    "embedding_topk", "language_id_docs", "multimodal_decode",
    "filter_pass", "chunk_docs", "text_stats", "dedup_exact",
    "sessionize_events", "contamination_docs", "pack_chunks_docs",
    "snapshot_diff_docs",
    # rotated out in round 10 to fit the round-10 rows (flat r7-r9
    # history, spread < 0.2 s, no VERDICT drift mention; none are
    # BASELINE.md comparison rows):
    "gopher_quality_docs", "gopher_dup_ngrams_docs", "join_inner",
    "join_left", "preference_pairs_docs", "window_running_sum",
    "slice_step", "q6_forecast_revenue", "q14_promo_revenue",
    "zorder_events", "line_dedup_docs", "dedup_clusters",
    "hard_negatives_embeddings",
    # rotated out in round 11 to fit the round-11 rows (3-round flat
    # history r8-r10: ohlc 0.53/0.48/0.48, funnel 0.59/0.55/0.54,
    # phrase 0.57/0.51/0.47, batched 0.42/0.59/0.45; ab_welch
    # 0.33/0.35 over its 2 rounds; none are BASELINE.md rows):
    "ohlc_resample_events", "funnel_events", "phrase_search_docs",
    "batched_topk_embeddings", "ab_welch_events",
    # round-11 curation: the full TPC-H suite + the r10/r11 stat rows
    # pushed the printed line past the 2000-char window and the
    # last-resort truncation started dropping BASELINE-comparable rows
    # (synth_order_1m_save/load) arbitrarily. These rows are all flat
    # sub-0.6 s shapes whose full min-of-2 + loadavg stamps live in the
    # committed BENCH_META file every round; the printed line keeps the
    # baseline-comparable io/synth rows, every multi-second row, and
    # the newest never-benched entries.
    "confusion_events", "calibration_events", "benford_orders",
    "ols_lineitem", "chi2_docs", "mutual_info_docs",
    "attribution_events", "group_quantiles_events",
    "equidepth_hist_events", "markov_events", "path_ngrams_events",
    "target_encode_orders", "corr_matrix_lineitem",
    "retention_cohorts_events", "trigram_substring_docs",
    "winnow_fps_docs", "acf_events", "outliers_mad_events",
    "q12_late_shipments", "q13_customer_distribution",
    "q15_top_supplier", "q17_small_qty_revenue",
    "q22_dormant_customers", "q9_product_profit",
    "q11_important_parts", "q16_supplier_part_counts",
    "q20_promo_suppliers", "q10_returned_items",
    "q7_volume_shipping", "q8_market_share", "expectations_orders",
    "ks_test_events", "heavy_hitters_docs", "gini_orders",
    "auc_events", "km_survival_events",
    # second r11 curation pass: the fourth-wave sub-second rows (all
    # in META + SWEEP every round) — the line keeps every
    # baseline-comparable io/synth row, the multi-second rows, and a
    # representative slice of the newest ops
    "column_entropy_docs", "zipf_alpha_docs", "outliers_events",
    "pca_covariance_embeddings", "ranking_metrics_docs",
    "referential_audit_orders", "gains_table_events",
    "isotonic_calibration_events",
    # third curation pass (the sixth-wave rows joined the line):
    # multi-round-flat sub-1.2s rows, all still in META + SWEEP
    "state_intervals_events", "ema_events", "near_dup_embeddings",
    "pivot_wide", "interpolate_events", "gopher_repetition_docs",
    "groupby_accumulators", "bucketed_join_revenue",
    # fourth curation pass (seventh-wave rows joined the line)
    "seasonal_anomalies_events", "interarrival_events",
    "funnel_window_events", "pmi_collocations_docs",
    # round-12 curation: make room for the six r12 rows WITHOUT
    # shedding the r2_comparable_total anchor — these six are flat
    # sub-second r11 rows (0.33-0.77 s, spread < 0.2 s over their
    # two rounds), still stamped in META + SWEEP every round
    "category_index_orders", "json_props_events",
    "session_summary_events", "additive_seasonal_events",
    "group_cusum_events", "psi_orders_drift",
    # round-14 curation (VERDICT r13 task 4): the r13 line truncated
    # and the fastest-first fallback shed BASELINE-comparable rows
    # (io_json_read / io_parquet_read). Make room for the seven r14
    # rows AND the restored baseline rows by shedding these flat
    # sub-second 2-round-stable rows (r12/r13 spreads < 0.25 s, none
    # BASELINE-comparable, all still in META + SWEEP every round):
    "active_users_interval_events", "merge_upsert_orders",
    "multi_touch_events", "rolling_global_events",
    "top_k_per_group_lineitem", "q18_large_orders",
    "q19_disjunctive_filter", "logrank_events", "bigram_lm_docs",
    # second r14 pass: the first quiet run still truncated 9 rows and
    # the r2_comparable_total anchor off the line. These are all
    # multi-round-flat 0.6-1.7 s rows (spreads < 0.3 s across
    # r12/r13/r14), none BASELINE-comparable, all in META + SWEEP:
    "char_entropy_docs", "nelson_aalen_events",
    "tfidf_keywords_docs", "q2_min_cost_supplier",
    "q5_nation_revenue", "q3_shipping_revenue",
    "active_users_events", "q21_waiting_suppliers",
    "perplexity_docs", "semantic_dedup_embeddings",
    "jaccard_join_docs",
    # room for the eleventh-wave rows (write twins are not
    # BASELINE.md mappings — the baseline compares READ throughput;
    # both are flat across r12/r13 and stay in META + SWEEP):
    "io_csv_write", "io_json_write", "bootstrap_ci_orders",
    # room for the wave-12/13 rows: the r13 additions have now
    # printed for two rounds with flat sub-0.6 s values (all in
    # META + SWEEP; none BASELINE-comparable):
    "fit_apply_scale_events", "conversion_lag_events",
    "skew_report_lineitem", "mom_growth_orders",
    "rolling_avg_events", "time_weighted_avg_events",
    # room for the fourteenth-wave rows (hll/skyline/spatial/bfs):
    # hist2d is 2-round flat at 0.24/0.28 s; q1 is 3-round flat at
    # 0.62/0.61/0.71 s and doubles as the warm-up query, so its
    # steady-state cost is pinned every round regardless. Neither is
    # BASELINE-comparable; both stay in META + SWEEP:
    "hist2d_events", "q1_pricing_summary",
    # room for the fifteenth-wave rows (kmv/bloom/assortativity):
    # io_parquet_write joins the earlier write-twin sheds (the
    # BASELINE mapping compares READ throughput; 1.03/0.91/1.31 s
    # over 3 rounds). winsorize / feature_scale have 3-round
    # MONOTONE-IMPROVING histories (2.56->2.10->1.73 and
    # 2.38->1.92->1.74) — the improvements are already on the r12/r13
    # record, neither is BASELINE-comparable, both stay in META+SWEEP:
    "io_parquet_write", "winsorize_lineitem", "feature_scale_lineitem",
    # room for the sixteenth-wave rows (kcore/dbscan, both
    # multi-second and new — they take the line slots): bpe_train /
    # cluster_dedup_keep_best have 3-round histories inside a
    # 1.5-2.3 s band (1.75/1.95/1.48 and 1.89/2.25/1.73), never a
    # VERDICT drift mention, not BASELINE-comparable, in META+SWEEP:
    "bpe_train_docs", "cluster_dedup_keep_best_docs",
    # room for the seventeenth-wave rows (cms/hyperball): kfold is a
    # 0.18 s scan-only hash aggregation — the least informative line
    # row (its cost IS the corpus scan) — shed before its first
    # driver print to keep ~30 chars of line headroom; min-of-2 +
    # loadavg stamps in META + SWEEP every round like everything
    # else here:
    "kfold_splits_docs",
    # room for the eighteenth-wave row (temporal_reach, 11 s):
    # tokenizer_fertility joins kfold in the shed-before-first-print
    # class — a 0.27 s scan+regex census whose line row is the least
    # informative kind; stamps in META + SWEEP every round:
    "tokenizer_fertility_docs",
    # room for the nineteenth-wave row (ppr, multi-second): bollinger
    # joins the shed-before-first-print class (0.49 s census-window
    # row); stamps in META + SWEEP every round:
    "bollinger_events",
    # final r14 allocation: 16 rows joined the registry this round
    # and the 2000-char line cannot carry them all. The line keeps
    # every multi-second new row (bfs/kcore/dbscan/hyperball/
    # temporal/theil_sen/kmv/assort/cms/skyline/stream_static) and
    # these sub-1.6 s rows ship META+SWEEP-only from birth (the
    # sketch family stays represented on the line by kmv + cms; the
    # spatial join is exercised inside dbscan's line row):
    "hll_distinct_events", "spatial_pairs_customers",
    "bloom_semi_join_lineitem", "script_mix_docs",
}


# BASELINE.md-comparable rows must ALWAYS reach the driver-parsed
# stdout line (VERDICT r13 task 4: two fell off via the last-resort
# fastest-first truncation in r13). The truncation loop skips these.
BASELINE_LINE_PROTECT = {
    "synth_order_1m_save", "synth_order_1m_load",
    "synth_order_50m_save", "synth_order_50m_load",
    "slice_step_50m_indexed", "slice_step_50m_scan",
    "synth_json_1m_read", "json_columnar_1m_read",
    "io_csv_read_inferschema", "io_json_read", "io_parquet_read",
}


def _minhash_dedup_docs_real(spark, sf_dir: str):
    """Bench twin of minhash_dedup_docs on the REAL documents table.
    The queries() entry now runs on the oracle fixture corpus; the
    bench keeps timing the original workload so BENCH_r03 stays
    comparable with BENCH_r01/r02."""
    from pyspark.sql import functions as F  # noqa: F401

    from tablite_spark.pipeline.dedup import minhash_dedup
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup(d, "text", "doc_id", threshold=0.5).select("doc_id")


def _line_dedup_docs_real(spark, sf_dir: str):
    """Bench twin on the REAL documents table (the queries() entry
    runs on the constructed footer fixture for exact oracling)."""
    from tablite_spark.pipeline.dedup import line_dedup
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return line_dedup(d, "text", "doc_id")


def _semantic_dedup_real(spark, sf_dir: str):
    """Bench twin on the REAL embeddings table."""
    from tablite_spark.pipeline.similarity import semantic_dedup
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(e, "vec_id", "embedding", n_lists=16)


def _substring_dedup_real(spark, sf_dir: str):
    """Bench twin on the REAL documents table (the queries() entry
    runs on the constructed carrier-token fixture for exact
    oracling); k=20 is the operator default / paper shape."""
    from tablite_spark.pipeline.dedup import substring_dedup
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return substring_dedup(d, "text", "doc_id", k=20) \
        .select("doc_id", "n_tokens_kept")


def _gopher_quality_real(spark, sf_dir: str):
    """Bench twin on the REAL documents table (queries() entry uses
    the integer-arithmetic fixture for bit-exact oracling)."""
    from tablite_spark.pipeline.text import gopher_rules
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_rules(d, "text", "doc_id")


def _pretrain_filter_real(spark, sf_dir: str):
    """Bench twin: the full composed gate on the REAL documents."""
    from tablite_spark.pipeline.text import pretrain_filter
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pretrain_filter(d, "text", "doc_id")


def _pq_topk_real(spark, sf_dir: str):
    """Bench twin: PQ ANN over the REAL embeddings (8 queries,
    k=10, ADC + exact refine — the queries() entry is a 3-query
    recall check)."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.similarity import pq_topk
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8)
    return pq_topk(e, q, k=10, id_col="vec_id", vec_col="embedding",
                   m=8, n_codes=256, refine=4)


def _ivfpq_topk_real(spark, sf_dir: str):
    """Bench twin: IVF-PQ ANN (coarse-cell pruning over ADC codes)
    on the REAL embeddings."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.similarity import ivfpq_topk
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8)
    return ivfpq_topk(e, q, k=10, id_col="vec_id", vec_col="embedding")


def _pack_sequences_real(spark, sf_dir: str):
    """Bench twin: concat-and-chunk packing of the REAL documents
    table into 512-token training windows (whitespace token ids —
    the queries() entry uses arithmetic ids for bit-exact oracling;
    the token VOLUME moved per row is identical)."""
    from pyspark.sql import functions as F

    from tablite_spark.pipeline.text import pack_sequences
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != "")
    ids = F.transform(toks,
                      lambda t: F.length(t).cast("int"))
    docs = d.select("doc_id", ids.alias("ids"))
    return pack_sequences(docs, "ids", "doc_id", seq_len=512,
                          eos_id=0)


def _gopher_repetition_real(spark, sf_dir: str):
    """Bench twin on the REAL documents table (arrow census default
    since round 6 — tracks the zero-shuffle path's cost)."""
    from tablite_spark.pipeline.text import gopher_repetition
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_repetition(d, "text", "doc_id")


def _gopher_dup_ngrams_real(spark, sf_dir: str):
    """Bench twin on the REAL documents table (arrow census default
    since round 6)."""
    from tablite_spark.pipeline.text import gopher_dup_ngram_coverage
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_dup_ngram_coverage(d, "text", "doc_id")


BENCH_OVERRIDES = {
    "pack_sequences_docs": _pack_sequences_real,
    "gopher_repetition_docs": _gopher_repetition_real,
    "gopher_dup_ngrams_docs": _gopher_dup_ngrams_real,
    "minhash_dedup_docs": _minhash_dedup_docs_real,
    "line_dedup_docs": _line_dedup_docs_real,
    "semantic_dedup_embeddings": _semantic_dedup_real,
    "substring_dedup_docs": _substring_dedup_real,
    "gopher_quality_docs": _gopher_quality_real,
    "pretrain_filter_docs": _pretrain_filter_real,
    "pq_topk_embeddings": _pq_topk_real,
    "ivfpq_topk_embeddings": _ivfpq_topk_real,
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def min_of_2(name: str, fn, timings: dict, meta: dict,
             rerun_below: float = 60.0, runs_n: int = 2) -> None:
    """Record min-of-2 with per-run loadavg stamps for EVERY bench
    entry (round-6 discipline, extending the r5 50M/json treatment
    to the whole set): single-shot numbers on this host swing up to
    ~3x under ambient contention (loadavg 7-24 observed on unchanged,
    plan-gated code in r4/r5); the min is the least-contended
    observation and the stamps make residual contention provable
    instead of arguable. Raw runs + loadavgs land in the top-level
    ``bench_meta`` key — ``queries`` stays {name: sec}.

    Wall-time guard: if the first run already exceeds
    ``rerun_below`` seconds the host is badly contended (or the
    entry is genuinely huge) and a second run would risk the
    driver's overall bench timeout — keep the single stamped
    observation."""
    runs, loads = [], []
    for _ in range(runs_n):
        loads.append(round(os.getloadavg()[0], 2))
        t0 = time.perf_counter()
        fn()
        runs.append(round(time.perf_counter() - t0, 3))
        if runs[0] >= rerun_below:
            break
    timings[name] = min(runs)
    meta[name] = {"runs": runs, "loadavg": loads}
    # self-annotating outlier record (VERDICT r11 item 4): when the
    # spread exceeds the ±15% noise band the committed META itself
    # says the min smoothed an outlier — the honesty note travels
    # with the number instead of living only in PLANS.md
    if len(runs) > 1 and max(runs) > 1.3 * min(runs):
        meta[name]["spread_note"] = (
            f"{max(runs) / min(runs):.1f}x run spread at loadavg "
            f"{loads}: ambient contention — min kept as the "
            f"least-contended observation")


def io_benchmarks(spark, sf_dir: str, timings: dict, rows_out: dict) -> None:
    """BASELINE.md mappings: tpz save/load ↔ parquet write/read,
    CSV read throughput, stepped slice. Timings land in the shared
    queries dict (seconds); row counts go to ``rows_out`` so rows/s is
    reproducible."""
    import shutil
    import tempfile
    import time

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = li.count()
    meta = rows_out.setdefault("bench_meta", {})
    tmp = tempfile.mkdtemp(prefix="bench_io_")
    try:
        min_of_2("io_parquet_write",
                 lambda: li.write.mode("overwrite")
                 .parquet(f"{tmp}/li.parquet"), timings, meta)
        min_of_2("io_parquet_read",
                 lambda: spark.read.parquet(f"{tmp}/li.parquet")
                 .write.format("noop").mode("overwrite").save(),
                 timings, meta)
        min_of_2("io_csv_write",
                 lambda: li.write.mode("overwrite")
                 .option("header", True).csv(f"{tmp}/li.csv"),
                 timings, meta)
        min_of_2("io_csv_read_inferschema",
                 lambda: spark.read.option("header", True)
                 .option("inferSchema", True).csv(f"{tmp}/li.csv")
                 .write.format("noop").mode("overwrite").save(),
                 timings, meta)
        min_of_2("io_json_write",
                 lambda: li.write.mode("overwrite")
                 .json(f"{tmp}/li.json"), timings, meta)

        # explicit schema: the reference's from_json also knows its
        # columns — without it Spark pays a full inference pre-pass
        min_of_2("io_json_read",
                 lambda: spark.read.json(f"{tmp}/li.json",
                                         schema=li.schema)
                 .write.format("noop").mode("overwrite").save(),
                 timings, meta)

        rows_out["io_rows"] = n

        # BASELINE.md headline: tpz save/load of 1M rows of the
        # reference's own 12-column synthetic_order_data (2.148 s /
        # 0.922 s). Cache the generated frame first so the timing
        # measures the sink/scan, as the reference's does.
        from tablite_spark.datasets import synthetic_order_data
        synth = synthetic_order_data(spark, 1_000_000).persist()
        synth.count()
        min_of_2("synth_order_1m_save",
                 lambda: synth.write.mode("overwrite")
                 .parquet(f"{tmp}/synth.parquet"), timings, meta)
        min_of_2("synth_order_1m_load",
                 lambda: spark.read.parquet(f"{tmp}/synth.parquet")
                 .write.format("noop").mode("overwrite").save(),
                 timings, meta)

        # matched-shape JSON read: BASELINE.md's ~2.3M rows/s is a 1M-row
        # in-memory decode; measure OUR 1M-row JSON-lines scan with an
        # explicit schema so the ratio is apples-to-apples on row count.
        synth.write.mode("overwrite").json(f"{tmp}/synth.json")
        min_of_2("synth_json_1m_read",
                 lambda: spark.read.json(f"{tmp}/synth.json",
                                         schema=synth.schema)
                 .write.format("noop").mode("overwrite").save(),
                 timings, meta)

        # the TRUE format twin of the reference's from_json (an
        # in-memory column-major dict decode, BASELINE.md ~2.3M rows/s):
        # parse the JSON string + columnar decode + one Arrow crossing.
        # The JSON-lines scan above is a different (distributed, file)
        # workload — both ratios are recorded.
        import json as _json

        from tablite_spark.sources.io import read_json_columnar
        cols_pdf = synth.toPandas()

        def _col(s):
            if s.dtype.kind == "M":
                return s.dt.strftime("%Y-%m-%d %H:%M:%S").tolist()
            return s.tolist()

        payload = _json.dumps(
            {"columns": {c: _col(cols_pdf[c]) for c in cols_pdf.columns}})
        del cols_pdf
        # warm the Arrow createDataFrame path (first call pays JVM
        # class-loading) so the timing measures the decode, like every
        # other steady-state entry here
        read_json_columnar(spark, '{"columns": {"a": [1, 2]}}') \
            .write.format("noop").mode("overwrite").save()
        # cold = first full-size call (pays allocator growth for the
        # 12M-object decode); steady = second call, comparable to the
        # other warmed entries. Stage breakdown (orjson decode /
        # pa.array build / createDataFrame) is recorded so the e2e
        # number is explainable: decode dominates and is heap-state
        # sensitive (~1-2.5 s run to run), the Spark side is ~0.6 s.
        t0 = time.perf_counter()
        read_json_columnar(spark, payload).write.format("noop") \
            .mode("overwrite").save()
        timings["json_columnar_1m_read_cold"] = round(
            time.perf_counter() - t0, 3)
        # steady = best of two runs: the decode is single-threaded and
        # highly sensitive to host contention (observed 0.85-5.2 s for
        # the same work); min-of-2 is the least-contended observation
        best, best_stages = None, {}
        runs, loads = [], []
        for _ in range(2):
            stages = {}
            loads.append(round(os.getloadavg()[0], 2))
            t0 = time.perf_counter()
            read_json_columnar(spark, payload, _stages=stages) \
                .write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            runs.append(round(dt, 3))
            if best is None or dt < best:
                best, best_stages = dt, stages
        timings["json_columnar_1m_read"] = round(best, 3)
        meta["json_columnar_1m_read"] = {"runs": runs, "loadavg": loads}
        if max(runs) > 1.3 * min(runs):
            meta["json_columnar_1m_read"]["spread_note"] = (
                f"{max(runs) / min(runs):.1f}x run spread at loadavg "
                f"{loads}: ambient contention — min kept as the "
                f"least-contended observation")
        for k, v in best_stages.items():
            timings[f"json_columnar_1m_{k}"] = round(v, 3)
        rows_out["synth_rows"] = 1_000_000
        synth.unpersist()

        # TRUE matched-scale section: BASELINE.md's 50M-row numbers
        # (save 106.6 s, load 44.6 s, stepped slice w/ 20 hits 1.435 s).
        # The table is written WITH a persisted dense row index and
        # 16 MB row groups — the Spark-native analogue of the
        # reference's fixed 1M-row page store — so the stepped slice
        # becomes an IN-list scan that row-group stats + page column
        # indexes prune to O(hits) IO.
        from tablite_spark.operators.sorting import slice_rows, with_row_index

        def _save():
            # r15 (guide §6): zstd level 1 instead of the snappy
            # default for the 50M table — paired interleaved A/Bs
            # showed zstd-3 equal to snappy on save time at 32%
            # fewer bytes (2308 -> 1577 MB), and zstd-1 then beating
            # zstd-3 on every paired rep (save 7.3/7.3/6.7 vs
            # 10.1/10.0/7.8 s; load 1.32 vs 1.59; slice 0.61 vs
            # 0.77) at a marginally SMALLER file (1547 MB). Same
            # rows, same schema, same 16 MB row groups — only the
            # page codec changes, and the load/slice rows read the
            # smaller bytes back.
            with_row_index(synthetic_order_data(spark, 50_000_000)) \
                .write.mode("overwrite") \
                .option("parquet.block.size", 16 * 1024 * 1024) \
                .option("compression", "zstd") \
                .option("parquet.compression.codec.zstd.level", "1") \
                .parquet(f"{tmp}/s50m.parquet")
        # three runs for this row (VERDICT r10 item 2): its r10
        # record spread 8.58/17.82 s run-to-run — the 50M generate+
        # write is the bench's largest single allocation burst and
        # the most heap/GC-state sensitive row, so a third
        # observation pins whether an outlier is a one-off
        min_of_2("synth_order_50m_save", _save, timings, meta,
                 rerun_below=90.0, runs_n=3)
        big = spark.read.parquet(f"{tmp}/s50m.parquet")
        min_of_2("synth_order_50m_load",
                 lambda: big.write.format("noop").mode("overwrite").save(),
                 timings, meta, rerun_below=90.0)
        min_of_2("slice_step_50m_indexed",
                 lambda: slice_rows(big, None, None, 2_500_000,
                                    index_col="__row_id__")
                 .write.format("noop").mode("overwrite").save(),
                 timings, meta, rerun_below=90.0)
        # the no-index path (rank + filter) at the same scale, for the
        # honest O(n)-scan comparison
        min_of_2("slice_step_50m_scan",
                 lambda: slice_rows(big.drop("__row_id__"),
                                    None, None, 2_500_000)
                 .write.format("noop").mode("overwrite").save(),
                 timings, meta, rerun_below=90.0)
        rows_out["matched_scale_rows"] = 50_000_000
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def probe_benchmarks(spark, sf_dir: str, timings: dict,
                     extra: dict) -> None:
    """Steady-state cost attribution for the incremental dedup loop
    (VERDICT r7 item 4): ``incremental_minhash_dedup_docs`` times
    one-time index CONSTRUCTION plus the probe (right for proving the
    durable path, wrong for drift tracking — 8.7 s in r7, dominated
    by the build). This entry times the PROBE ONLY against a
    PRE-BUILT index — the ingestion-loop steady state, where the
    corpus index already exists and each batch pays signature + band
    join + in-batch pass. Batch = 10% of documents, half exact dups
    of corpus docs, half fresh."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tablite_spark.pipeline.dedup import (
        incremental_minhash_dedup, minhash_save_index, shingle_minhash,
    )
    meta = extra.setdefault("bench_meta", {})
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp(prefix="bench_probe_")
    idx = f"{tmp}/index"
    try:
        # untimed: the one-time corpus index build
        minhash_save_index(shingle_minhash(d, "text", "doc_id"),
                           "doc_id", idx)
        dup = (d.filter(F.col("doc_id") % 20 == 0)
               .select((F.col("doc_id") + 10_000_000).alias("doc_id"),
                       "text"))
        fresh = (d.filter(F.col("doc_id") % 20 == 1)
                 .select((F.col("doc_id") + 20_000_000).alias("doc_id"),
                         F.reverse("text").alias("text")))
        batch = dup.unionByName(fresh).persist()
        batch.count()
        min_of_2("incremental_minhash_probe_docs",
                 lambda: force(incremental_minhash_dedup(
                     batch, "text", "doc_id", idx).select("doc_id")),
                 timings, meta, rerun_below=30.0)
        batch.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # trigram substring search, probe-only (VERDICT r8 item 3): the
    # queries() entry derives postings inline (one corpus pass per
    # run) — the steady state worth drift-tracking is a probe against
    # the DURABLE index, where each needle costs a few posting-list
    # reads + the id-keyed confirm join.
    from tablite_spark.pipeline.retrieval import (
        build_trigram_index, load_trigram_index, substring_search,
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tmp = tempfile.mkdtemp(prefix="bench_trigram_")
    try:
        build_trigram_index(d, "text", "doc_id", f"{tmp}/idx")  # untimed
        postings, tri_df = load_trigram_index(spark, f"{tmp}/idx")
        min_of_2("trigram_substring_docs",
                 lambda: force(substring_search(
                     d, "text", "doc_id", "the table",
                     postings=postings, tri_df=tri_df,
                     max_probe_trigrams=3)),
                 timings, meta, rerun_below=30.0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _fuzzy_join_diverse(spark, sf_dir: str):
    """Bench twin for the fuzzy join on DIVERSE strings (100k + 10k
    planted one-edit mutants) — the oracled `fuzzy_join_customers`
    runs the adversarial shared-prefix shape whose candidate volume
    is the true near-quadratic pair count (~220 s at sf0.1: data
    property, not plan defect), so drift tracking uses the shape
    blocking is FOR."""
    from pyspark.sql import functions as F

    from tablite_spark.operators.fuzzy import fuzzy_join
    val = (F.col("id") * 2654435761) % 100_000_000_000
    chars = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda j: F.char(F.lit(97) + ((val / F.pow(F.lit(26), j))
                                      .cast("long") % 26)))
    s = F.concat(F.lit("w"), F.concat_ws("", chars))
    base = spark.range(100_000).select(F.col("id").alias("sid"),
                                       s.alias("w"))
    mut = base.filter(F.col("sid") % 10 == 0).select(
        (F.col("sid") + 5_000_000).alias("sid"),
        F.concat(F.substring("w", 1, 8), F.lit("0")).alias("w"))
    both = base.unionByName(mut)
    return fuzzy_join(both, both, "w", "w", max_distance=1,
                      left_id="sid", right_id="sid")


BENCH_OVERRIDES["fuzzy_join_diverse_110k"] = _fuzzy_join_diverse


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Scaling-leg twin disable (r14 VERDICT item 10): the driver
    # re-runs this bench at a LOWER core count to measure how each
    # query scales with cores. The count-gated graph/cc/kmeans driver
    # twins are core-count-independent numpy below their valves, so
    # on those rows the low/high ratio measured the twin, not Spark.
    # When this process runs below the machine's full core count —
    # the scaling leg's signature — force the distributed paths via
    # the valves' existing env knobs (explicit user settings win).
    # The full-core bench keeps the twins: their cost is the real
    # engine cost at this size class.
    if host_cpus() < len(os.sched_getaffinity(0)):
        for knob in ("SPARK_GRAFT_GRAPH_DRIVER_EDGES",
                     "SPARK_GRAFT_CC_DRIVER_EDGES",
                     "SPARK_GRAFT_KMEANS_DRIVER_CELLS"):
            os.environ.setdefault(knob, "0")
    spark = get_spark("bench")
    qs = entry_mod.queries()

    # warm the JVM + parquet footers so per-query numbers measure the
    # queries, not JIT/session startup
    force(qs["q1_pricing_summary"](spark, sf_dir))
    # spin up the python worker pool (one interpreter per core) so the
    # first pandas-UDF query measures the operator, not 32 forks
    par = spark.sparkContext.defaultParallelism
    force(spark.range(par * 4).repartition(par)
          .mapInPandas(lambda it: it, "id long"))

    timings: dict[str, float] = {}
    extra: dict = {}
    meta = extra.setdefault("bench_meta", {})
    for name in BENCH_QUERIES:
        fn = BENCH_OVERRIDES.get(name) or qs[name]
        min_of_2(name, lambda fn=fn: force(fn(spark, sf_dir)),
                 timings, meta, rerun_below=30.0)
    # `value` = sum of the recorded (min) per-query timings — the
    # min-of-2 analogue of the old single-shot loop wall time, so
    # cross-round totals stay comparable in meaning (steady-state
    # per-query cost) while shedding contention noise
    total = round(sum(timings[q] for q in BENCH_QUERIES), 3)
    # additions after round 2 inflate the headline total; publish the
    # subtotal over the round-2 query list so the trend stays readable
    r2_basis = round(sum(v for k, v in timings.items()
                         if k not in POST_R2_SETS), 3)

    io_benchmarks(spark, sf_dir, timings, extra)
    probe_benchmarks(spark, sf_dir, timings, extra)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "timing_mode": "min_of_2_per_query",
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "queries": timings,
        "r2_comparable_total": r2_basis,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **extra,
    }
    # The driver captures only the LAST 2000 chars of stdout and
    # json-parses the final line: round 6's per-query ``bench_meta``
    # (runs + loadavg stamps) grew the line to ~6.4 KB and the official
    # BENCH_r06 record came back ``parsed: null``. The full record
    # (including bench_meta) now goes to a committed side file; the
    # printed line carries the headline set only and is compact-encoded
    # with a hard length guard so the driver can always parse it.
    meta_path = os.environ.get(
        "SPARK_GRAFT_BENCH_META",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_META_r15.json"))
    try:
        with open(meta_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the printed line still stands alone
    compact = dict(payload)
    compact.pop("bench_meta", None)
    # recorded in the meta file; shed here so the full headline set
    # fits the driver's 2000-char stdout window without truncation
    compact.pop("timing_mode", None)
    compact.pop("loadavg_end", None)
    # constant shape descriptors (row counts of the synthetic/io/50M
    # sections) — meta file only; the 68 chars they cost are needed
    # for the round-8 query rows to fit untruncated
    for k in ("io_rows", "matched_scale_rows", "synth_rows"):
        compact.pop(k, None)
    # stage breakdowns (json_columnar_1m_decode/arrow_build/...) and
    # the cold-JVM json_columnar first-call artifact are diagnostics,
    # not headline timings — meta file only (VERDICT r7 item 7: the
    # cold row once pushed the line over 1900 chars and the truncation
    # fallback shed REAL timings)
    compact["queries"] = {
        k: v for k, v in compact["queries"].items()
        if not (k.startswith("json_columnar_1m_")
                and k != "json_columnar_1m_read")}
    # curated shed set (see COMPACT_LINE_SHED) — still measured and
    # recorded in the meta file's full ``queries`` every round
    compact["queries"] = {k: v for k, v in compact["queries"].items()
                          if k not in COMPACT_LINE_SHED}
    # 2-decimal rounding up front: at 60+ headline rows the 3rd
    # decimal is what used to overflow the driver's 1900-char window
    compact["queries"] = {k: round(v, 2)
                          for k, v in compact["queries"].items()}
    # 1995 + newline fits the driver's last-2000-chars stdout window
    # (nothing prints after this line; Spark logs go to stderr)
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1995:
        # shed the DERIVED subtotal before any real timing — it stays
        # in the committed meta file
        compact.pop("r2_comparable_total", None)
        line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1995 and compact["queries"]:
        # last resort: drop the fastest NON-BASELINE entries first —
        # BASELINE.md-comparable rows must survive truncation
        droppable = [k for k in compact["queries"]
                     if k not in BASELINE_LINE_PROTECT]
        pool = droppable or list(compact["queries"])
        drop = min(pool, key=compact["queries"].get)
        del compact["queries"][drop]
        compact["queries_truncated"] = True
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
