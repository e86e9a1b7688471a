"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query on sf0.001.
``queries()`` maps every implemented SURVEY §2 operator to a callable
``(spark, sf_dir) -> DataFrame``; ``oracle_sql()`` holds the DuckDB
equivalent. Column names are aliased identically on both sides; money
aggregates are ROUND()ed on both sides so float summation order can't
flip the value-hash.

The query callables and their DuckDB oracles live in topic modules
under ``tablite_spark/registry/``; this module star-imports them and
keeps the driver contract: ``entry`` / ``queries`` / ``oracle_sql``
plus the verification-window ordering.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tablite_spark.registry._base import SF_SMOKE, _cents, _t  # noqa: F401
from tablite_spark.registry.relational import *  # noqa: F401,F403
from tablite_spark.registry.pipeline_docs import *  # noqa: F401,F403
from tablite_spark.registry.pipeline_scale import *  # noqa: F401,F403
from tablite_spark.registry.pipeline_scale import (  # noqa: F401
    _dup_fixture, _kmeans_oracle_sql, _logreg_oracle,
    _pagerank_oracle_sql)
from tablite_spark.registry.oracles import (  # noqa: F401
    _PCA_COMPS_SF001, _ann_overlap_oracle, _gopher_sql,
    _oracle_sql_base, _pca_project_oracle, _zorder_oracle)
from tablite_spark.registry import graph, sketches, stats, streaming
from tablite_spark.registry.graph import *  # noqa: F401,F403
from tablite_spark.registry.sketches import *  # noqa: F401,F403
from tablite_spark.registry.stats import *  # noqa: F401,F403
from tablite_spark.registry.streaming import *  # noqa: F401,F403


# --------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1-style pricing summary on sf0.001."""
    return q1_pricing_summary(spark, SF_SMOKE)


# --------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------

# The driver verifies the FIRST 50 entries of queries(): these, in
# this order. Every other entry follows in registration order.
_WINDOW = [
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
    "batched_topk_embeddings",
    "retention_cohorts_events",
    "bpe_train_docs",
    "fuzzy_join_customers",
    "interpolate_events",
    "trigram_substring_docs",
    "row_iteration_checksum",
    "diff_tables",
    "drop_rows",
    "groupby_accumulators",
    "distinct_keys",
    "histogram",
    "hopping_window",
    "dedup_exact",
    "doc_fingerprint",
    "embedding_topk",
    "csv_roundtrip_agg",
    "q1_pricing_summary",
    "q3_shipping_revenue",
    "q5_nation_revenue",
    "sort_mixed_excel",
    "transpose_region",
    "date_range_expand",
    "sort_unix_mixed",
    "xround_time_buckets",
    "xlsx_roundtrip_agg",
    "q6_forecast_revenue",
    "q18_large_orders",
    "q4_priority_exists",
    "q19_disjunctive_filter",
    "window_ntile",
    "count_value",
    "token_count_bpe",
    "asof_join_events",
    "chunk_docs",
    "contamination_docs",
    "substring_dedup_docs",
    "pretrain_filter_docs",
    "pq_topk_embeddings",
    "ivfpq_topk_embeddings",
]



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict order matters: the driver verifies the first 50 entries,
    ``_WINDOW``; everything else keeps its registration order behind
    them."""
    d = _all_queries()
    ordered = {k: d[k] for k in _WINDOW if k in d}
    ordered.update((k, v) for k, v in d.items() if k not in ordered)
    return ordered


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # registration order: queries() moves the _WINDOW entries to the
    # front and keeps this order for the rest
    return {
        "asof_join_events": asof_join_events,
        "range_join_prices": range_join_prices,
        "redact_pii_docs": redact_pii_docs,
        "weighted_sample_docs": weighted_sample_docs,
        "chunk_docs": chunk_docs,
        "contamination_docs": contamination_docs,
        "pack_chunks_docs": pack_chunks_docs,
        "corpus_manifest": corpus_manifest,
        "repetition_docs": repetition_docs,
        "vocab_top_ngrams": vocab_top_ngrams,
        "dedup_clusters": dedup_clusters,
        "sessionize_events": sessionize_events,
        "deterministic_sample_orders": deterministic_sample_orders,
        "stratified_sample_docs": stratified_sample_docs,
        "minhash_dedup_docs": minhash_dedup_docs,
        "semantic_dedup_embeddings": semantic_dedup_embeddings,
        "perplexity_docs": perplexity_docs,
        "line_dedup_docs": line_dedup_docs,
        "substring_dedup_docs": substring_dedup_docs,
        "gopher_quality_docs": gopher_quality_docs,
        "gopher_dup_ngrams_docs": gopher_dup_ngrams_docs,
        "pretrain_filter_docs": pretrain_filter_docs,
        "c4_clean_docs": c4_clean_docs,
        "gopher_repetition_docs": gopher_repetition_docs,
        "vocab_shift_docs": vocab_shift_docs,
        "simhash_docs": simhash_docs,
        "simhash_near_dup_docs": simhash_near_dup_docs,
        "lsh_topk_embeddings": lsh_topk_embeddings,
        "ivf_topk_embeddings": ivf_topk_embeddings,
        "pq_topk_embeddings": pq_topk_embeddings,
        "ivfpq_topk_embeddings": ivfpq_topk_embeddings,
        "quota_cap_docs": quota_cap_docs,
        "holdout_split_orders": holdout_split_orders,
        "shuffle_order_docs": shuffle_order_docs,
        "mixture_sample_docs": mixture_sample_docs,
        "token_budget_docs": token_budget_docs,
        "incremental_dedup_docs": incremental_dedup_docs,
        "unicode_sort_rank": unicode_sort_rank,
        "normalize_docs": normalize_docs,
        "interval_join_events": interval_join_events,
        "canonical_urls_docs": canonical_urls_docs,
        "png_decode_dims": png_decode_dims,
        "jpeg_decode_dims": jpeg_decode_dims,
        "video_frames_meta": video_frames_meta,
        "audio_features_meta": audio_features_meta,
        "gif_decode_dims": gif_decode_dims,
        "wav_decode_meta": wav_decode_meta,
        "ods_roundtrip_agg": ods_roundtrip_agg,
        "hdf5_roundtrip_agg": hdf5_roundtrip_agg,
        "xls_roundtrip_agg": xls_roundtrip_agg,
        "hdf5_chunked_roundtrip_agg": hdf5_chunked_roundtrip_agg,
        "hdf5_vlen_roundtrip": hdf5_vlen_roundtrip,
        "salted_join_equivalence": salted_join_equivalence,
        "zorder_events": zorder_events,
        "bucketed_join_revenue": bucketed_join_revenue,
        "bm25_search_docs": bm25_search_docs,
        "column_profile": column_profile,
        "quality_classifier_docs": quality_classifier_docs,
        "pack_sequences_docs": pack_sequences_docs,
        "pretrain_e2e_docs": pretrain_e2e_docs,
        "xls_dates_roundtrip": xls_dates_roundtrip,
        "tpz_roundtrip_agg": tpz_roundtrip_agg,
        "tpz_reference_read": tpz_reference_read,
        "stream_incremental_dedup_docs": stream_incremental_dedup_docs,
        "hdf5_foreign_read": hdf5_foreign_read,
        "ohlc_resample_events": ohlc_resample_events,
        "funnel_events": funnel_events,
        "phrase_search_docs": phrase_search_docs,
        "bloom_contamination_docs": bloom_contamination_docs,
        "batched_topk_embeddings": batched_topk_embeddings,
        "retention_cohorts_events": retention_cohorts_events,
        "bpe_train_docs": bpe_train_docs,
        "fuzzy_join_customers": fuzzy_join_customers,
        "interpolate_events": interpolate_events,
        "trigram_substring_docs": trigram_substring_docs,
        "winnow_fps_docs": winnow_fps_docs,
        "winnow_matches_docs": winnow_matches_docs,
        "tfidf_keywords_docs": tfidf_keywords_docs,
        "ab_welch_events": ab_welch_events,
        "ema_events": ema_events,
        "dsir_weights_docs": dsir_weights_docs,
        "dsir_select_docs": dsir_select_docs,
        "pca_covariance_embeddings": pca_covariance_embeddings,
        "pca_project_embeddings": pca_project_embeddings,
        "corr_matrix_lineitem": corr_matrix_lineitem,
        "group_quantiles_events": group_quantiles_events,
        "mutual_info_docs": mutual_info_docs,
        "rolling_avg_events": rolling_avg_events,
        "state_intervals_events": state_intervals_events,
        "outliers_events": outliers_events,
        "jaccard_join_docs": jaccard_join_docs,
        "path_ngrams_events": path_ngrams_events,
        "spearman_corr_lineitem": spearman_corr_lineitem,
        "ks_test_events": ks_test_events,
        "chi2_docs": chi2_docs,
        "equidepth_hist_events": equidepth_hist_events,
        "heavy_hitters_docs": heavy_hitters_docs,
        "markov_events": markov_events,
        "target_encode_orders": target_encode_orders,
        "outliers_mad_events": outliers_mad_events,
        "benford_orders": benford_orders,
        "acf_events": acf_events,
        "attribution_events": attribution_events,
        "stream_attribution_events": stream_attribution_events,
        "auc_events": auc_events,
        "calibration_events": calibration_events,
        "confusion_events": confusion_events,
        "ols_lineitem": ols_lineitem,
        "km_survival_events": km_survival_events,
        "q7_volume_shipping": q7_volume_shipping,
        "q8_market_share": q8_market_share,
        "q10_returned_items": q10_returned_items,
        "q13_customer_distribution": q13_customer_distribution,
        "q15_top_supplier": q15_top_supplier,
        "gini_orders": gini_orders,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q9_product_profit": q9_product_profit,
        "q11_important_parts": q11_important_parts,
        "q12_late_shipments": q12_late_shipments,
        "q16_supplier_part_counts": q16_supplier_part_counts,
        "q17_small_qty_revenue": q17_small_qty_revenue,
        "q20_promo_suppliers": q20_promo_suppliers,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "q22_dormant_customers": q22_dormant_customers,
        "cusum_events": cusum_events,
        "expectations_orders": expectations_orders,
        "feature_scale_lineitem": feature_scale_lineitem,
        "weighted_quantiles_lineitem": weighted_quantiles_lineitem,
        "seasonal_anomalies_events": seasonal_anomalies_events,
        "winsorize_lineitem": winsorize_lineitem,
        "zipf_alpha_docs": zipf_alpha_docs,
        "bigram_lm_docs": bigram_lm_docs,
        "stream_zscore_events": stream_zscore_events,
        "isotonic_calibration_events": isotonic_calibration_events,
        "referential_audit_orders": referential_audit_orders,
        "json_props_events": json_props_events,
        "ranking_metrics_docs": ranking_metrics_docs,
        "logrank_events": logrank_events,
        "psi_orders_drift": psi_orders_drift,
        "gains_table_events": gains_table_events,
        "group_cusum_events": group_cusum_events,
        "column_entropy_docs": column_entropy_docs,
        "pmi_collocations_docs": pmi_collocations_docs,
        "session_summary_events": session_summary_events,
        "association_rules_lineitem": association_rules_lineitem,
        "funnel_window_events": funnel_window_events,
        "additive_seasonal_events": additive_seasonal_events,
        "interarrival_events": interarrival_events,
        "bootstrap_ci_orders": bootstrap_ci_orders,
        "active_users_events": active_users_events,
        "category_index_orders": category_index_orders,
        "quantile_discretize_lineitem": quantile_discretize_lineitem,
        "resize_images_agg": resize_images_agg,
        "incremental_minhash_dedup_docs": incremental_minhash_dedup_docs,
        "kmeans_embeddings": kmeans_embeddings,
        "preference_pairs_docs": preference_pairs_docs,
        "hybrid_search_docs": hybrid_search_docs,
        "hard_negatives_embeddings": hard_negatives_embeddings,
        "pagerank_lineitem": pagerank_lineitem,
        "snapshot_diff_docs": snapshot_diff_docs,
        "cluster_dedup_keep_best_docs": cluster_dedup_keep_best_docs,
        "pack_sequences_sft_docs": pack_sequences_sft_docs,
        "resample_audio_meta": resample_audio_meta,
        "cluster_holdout_docs": cluster_holdout_docs,
        "html_roundtrip_agg": html_roundtrip_agg,
        "table_equality_check": table_equality_check,
        "rename_reorder_project": rename_reorder_project,
        "sql_script_md5": sql_script_md5,
        "get_headers_nation": get_headers_nation,
        "row_iteration_checksum": row_iteration_checksum,
        "construction_api_agg": construction_api_agg,
        "join_inner": join_inner,
        "join_left": join_left,
        "join_outer_merge_keys": join_outer_merge_keys,
        "join_cross": join_cross,
        "join_semi": join_semi,
        "join_anti": join_anti,
        "join_nullsafe": join_nullsafe,
        "lookup_first_match": lookup_first_match,
        "column_select_pass": column_select_pass,
        "column_select_fail": column_select_fail,
        "concat_tables": concat_tables,
        "stack_tables": stack_tables,
        "repeat_table": repeat_table,
        "diff_tables": diff_tables,
        "slice_step": slice_step,
        "replace_values": replace_values_q,
        "drop_rows": drop_rows_q,
        "pivot_wide": pivot_wide,
        "melt_long": melt_long,
        "window_topn": window_topn,
        "window_running_sum": window_running_sum,
        "window_lag": window_lag,
        "groupby_accumulators": groupby_accumulators,
        "distinct_keys": distinct_keys,
        "unique_first": unique_first,
        "imputation_ffill": imputation_ffill,
        "imputation_mean": imputation_mean,
        "statistics_summary": statistics_summary,
        "histogram": histogram_q,
        "xround_buckets": xround_buckets,
        "tumbling_window": tumbling_window,
        "hopping_window": hopping_window,
        "dedup_exact": dedup_exact,
        "text_stats": text_stats,
        "doc_fingerprint": doc_fingerprint,
        "quality_score": quality_score,
        "embedding_topk": embedding_topk,
        "multimodal_decode": multimodal_decode,
        "media_features": media_features,
        "csv_roundtrip_agg": csv_roundtrip_agg,
        "pandas_roundtrip_agg": pandas_roundtrip_agg,
        "imputation_nn_lsh": imputation_nn_lsh,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_revenue": q3_shipping_revenue,
        "q5_nation_revenue": q5_nation_revenue,
        "filter_pass": filter_pass,
        "filter_fail": filter_fail,
        "filter_any": filter_any,
        "filter_expression": filter_expression,
        "filter_substring_in": filter_substring_in,
        "filter_callable": filter_callable,
        "merge_where_case": merge_where_case,
        "groupby_mode": groupby_mode,
        "groupby_product": groupby_product,
        "sort_mixed_excel": sort_mixed_excel,
        "transpose_region": transpose_region,
        "reindex_rows": reindex_rows,
        "imputation_mode": imputation_mode,
        "imputation_nn": imputation_nn,
        "pivot_long": pivot_long,
        "sort_alphanumeric": sort_alphanumeric,
        "drop_duplicates": drop_duplicates_q,
        "groupby_first_last": groupby_first_last,
        "date_range_expand": date_range_expand,
        "statistics_text": statistics_text,
        "statistics_dates": statistics_dates,
        "index_rowids": index_rowids,
        "sort_unix_mixed": sort_unix_mixed,
        "xround_time_buckets": xround_time_buckets,
        "json_roundtrip_agg": json_roundtrip_agg,
        "parquet_roundtrip_agg": parquet_roundtrip_agg,
        "xlsx_roundtrip_agg": xlsx_roundtrip_agg,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q14_promo_revenue": q14_promo_revenue,
        "q18_large_orders": q18_large_orders,
        "q4_priority_exists": q4_priority_exists,
        "q19_disjunctive_filter": q19_disjunctive_filter,
        "groupby_rollup": groupby_rollup,
        "groupby_cube": groupby_cube,
        "window_ntile": window_ntile,
        "count_value": count_value_q,
        "unique_values": unique_values_q,
        "is_sorted": is_sorted_q,
        "remove_all": remove_all_q,
        "json_columnar_roundtrip": json_columnar_roundtrip,
        "token_count_bpe": token_count_bpe,
        "language_id_docs": language_id_docs,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        "near_dup_embeddings": near_dup_embeddings,
        "rolling_global_events": rolling_global_events,
        "active_users_interval_events": active_users_interval_events,
        "association_rules_capped_lineitem":
            association_rules_capped_lineitem,
        "merge_upsert_orders": merge_upsert_orders,
        "multi_touch_events": multi_touch_events,
        "skew_report_lineitem": skew_report_lineitem,
        "stream_upsert_events": stream_upsert_events,
        "top_k_per_group_lineitem": top_k_per_group_lineitem,
        "time_weighted_avg_events": time_weighted_avg_events,
        "nelson_aalen_events": nelson_aalen_events,
        "char_entropy_docs": char_entropy_docs,
        "conversion_lag_events": conversion_lag_events,
        "stream_session_events": stream_session_events,
        "mom_growth_orders": mom_growth_orders,
        "hist2d_events": hist2d_events,
        "fit_apply_scale_events": fit_apply_scale_events,
        "item_cosine_lineitem": item_cosine_lineitem,
        "stream_interval_join_events": stream_interval_join_events,
        "stream_interval_join_outer_events":
            stream_interval_join_outer_events,
        "exactly_once_sink_events": exactly_once_sink_events,
        "stream_dedup_watermark_events": stream_dedup_watermark_events,
        "rfm_segments_orders": rfm_segments_orders,
        "mann_whitney_events": mann_whitney_events,
        "revenue_concentration_orders": revenue_concentration_orders,
        "kfold_splits_docs": kfold_splits_docs,
        "grouped_weighted_median_lineitem":
            grouped_weighted_median_lineitem,
        "bollinger_events": bollinger_events,
        "tokenizer_fertility_docs": tokenizer_fertility_docs,
        "stream_session_timeout_events": stream_session_timeout_events,
        "triangle_count_lineitem": triangle_count_lineitem,
        "stream_matview_events": stream_matview_events,
        "hll_distinct_events": hll_distinct_events,
        "skyline_orders": skyline_orders,
        "spatial_pairs_customers": spatial_pairs_customers,
        "bfs_hops_lineitem": bfs_hops_lineitem,
        "kmv_jaccard_events": kmv_jaccard_events,
        "bloom_semi_join_lineitem": bloom_semi_join_lineitem,
        "assortativity_lineitem": assortativity_lineitem,
        "kcore_lineitem": kcore_lineitem,
        "dbscan_customers": dbscan_customers,
        "cms_tokens_docs": cms_tokens_docs,
        "hyperball_lineitem": hyperball_lineitem,
        "temporal_reach_lineitem": temporal_reach_lineitem,
        "ppr_lineitem": ppr_lineitem,
        "script_mix_docs": script_mix_docs,
        "theil_sen_orders": theil_sen_orders,
        "stream_static_join_events": stream_static_join_events,
    }

def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_base()
    for topic in (streaming, graph, stats, sketches):
        d.update(topic.ORACLES)
    d["pca_project_embeddings"] = _pca_project_oracle()
    # pretrain_filter is the conjunction of three already-oracled
    # stages: compose their SQL verbatim so the oracle stays a single
    # source of truth per rule family
    d["pretrain_filter_docs"] = f"""
        WITH g AS ({d['gopher_quality_docs']}),
             r AS ({d['gopher_repetition_docs']}),
             dn AS ({d['gopher_dup_ngrams_docs']})
        SELECT g.doc_id,
               (g.passes AND r.passes AND dn.passes) AS keep,
               CASE WHEN NOT g.passes THEN 'gopher'
                    WHEN NOT r.passes THEN 'repetition'
                    WHEN NOT dn.passes THEN 'dup_ngrams'
               END AS reason
        FROM g JOIN r ON g.doc_id = r.doc_id
               JOIN dn ON g.doc_id = dn.doc_id
    """
    # end-to-end pipeline: fixture -> gopher gate -> exact dedup ->
    # tokenize -> pack, replaying pack_sequences_docs' windowing SQL
    # over the composed corpus
    pack_sql = d["pack_sequences_docs"].strip()
    assert pack_sql.startswith("WITH ")
    assert pack_sql.count("FROM documents") == 2
    pack_body = pack_sql[len("WITH "):].replace("FROM documents",
                                                "FROM corpus")
    d["pretrain_e2e_docs"] = f"""
        WITH c0 AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN text
                        ELSE text || ' of the and that have with'
                   END AS text
            FROM documents
        ),
        c1 AS MATERIALIZED (
            SELECT a.doc_id,
                   CASE WHEN a.doc_id % 7 = 3 AND b.text IS NOT NULL
                        THEN b.text ELSE a.text END AS text
            FROM c0 a LEFT JOIN c0 b ON b.doc_id = a.doc_id - 1
        ),
        g AS MATERIALIZED (
            SELECT doc_id FROM ({_gopher_sql('c1', 10)}) WHERE passes
        ),
        kept AS MATERIALIZED (
            SELECT c1.* FROM c1 JOIN g USING (doc_id)
        ),
        firsts AS MATERIALIZED (
            SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)
        ),
        corpus AS MATERIALIZED (
            SELECT kept.* FROM kept JOIN firsts USING (doc_id)
        ),
        {pack_body}
    """
    return d
