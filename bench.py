"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec", "sf": ...,
"queries": {...}} (see ``printed_line``). Every row, with its runs and
loadavg stamps, goes to BENCH_META.json ($SPARK_GRAFT_BENCH_META).

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
    "perplexity_docs",
    "line_dedup_docs",
    "semantic_dedup_embeddings",
    "substring_dedup_docs",
    "gopher_quality_docs",
    "pretrain_filter_docs",
    "pq_topk_embeddings",
    "ivfpq_topk_embeddings",
    "zorder_events",
    "pack_sequences_docs",
    "bm25_search_docs",
    "bucketed_join_revenue",
    "quality_classifier_docs",
    "pretrain_e2e_docs",
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
    "ohlc_resample_events",
    "funnel_events",
    "phrase_search_docs",
    "bloom_contamination_docs",
    "batched_topk_embeddings",
    "retention_cohorts_events",
    "bpe_train_docs",
    "interpolate_events",
    "fuzzy_join_diverse_110k",
    "ema_events",
    "dsir_weights_docs",
    "pca_covariance_embeddings",
    "ab_welch_events",
    "tfidf_keywords_docs",
    "winnow_matches_docs",
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
    "rolling_global_events",
    "active_users_interval_events",
    "association_rules_capped_lineitem",
    "merge_upsert_orders",
    "multi_touch_events",
    "skew_report_lineitem",
    "stream_upsert_events",
    "top_k_per_group_lineitem",
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
    "hll_distinct_events",
    "skyline_orders",
    "spatial_pairs_customers",
    "bfs_hops_lineitem",
    "kmv_jaccard_events",
    "bloom_semi_join_lineitem",
    "assortativity_lineitem",
    "kcore_lineitem",
    "dbscan_customers",
    "cms_tokens_docs",
    "hyperball_lineitem",
    "temporal_reach_lineitem",
    "ppr_lineitem",
    "script_mix_docs",
    "theil_sen_orders",
    "stream_static_join_events",
]


# BASELINE.md-comparable rows: printed_line places them before any
# other row.
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


# Readers of the bench json-parse the last line of the last 2000 stdout
# chars; 1995 + newline fits (Spark logs go to stderr).
LINE_MAX = 1995


def printed_line(payload: dict) -> str:
    """The one stdout line: ``metric``, ``value``, ``unit``, ``sf`` and
    a ``queries`` map of 2-decimal seconds, at most ``LINE_MAX`` chars.
    Rows join greedily: each BASELINE_LINE_PROTECT row that fits, then,
    if all of them fit, every other row slowest-first up to the first
    one that does not. Every row stays in the META file either way.
    """
    times = payload["queries"]
    line = {k: payload[k] for k in ("metric", "value", "unit", "sf")}
    rows = line["queries"] = {}
    text, missed = json.dumps(line, separators=(",", ":")), False
    for name in sorted(times, key=lambda k: (k not in BASELINE_LINE_PROTECT,
                                             -times[k])):
        if missed and name not in BASELINE_LINE_PROTECT:
            break
        rows[name] = round(times[name], 2)
        candidate = json.dumps(line, separators=(",", ":"))
        if len(candidate) <= LINE_MAX:
            text = candidate
        else:
            del rows[name]
            missed = True
    return text


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
    reproducible. The json_columnar diagnostics (its cold first call
    and its stage breakdown) are not headline rows and go to
    ``rows_out["bench_meta"]``."""
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
        load = round(os.getloadavg()[0], 2)
        t0 = time.perf_counter()
        read_json_columnar(spark, payload).write.format("noop") \
            .mode("overwrite").save()
        meta["json_columnar_1m_read_cold"] = {
            "runs": [round(time.perf_counter() - t0, 3)], "loadavg": [load]}
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
            meta[f"json_columnar_1m_{k}"] = {"stage_s": round(v, 3)}
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
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **extra,
    }
    # the full record (every row, runs + loadavg stamps) goes to a side
    # file; stdout carries only the line printed_line builds from it
    meta_path = os.environ.get(
        "SPARK_GRAFT_BENCH_META",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_META.json"))
    try:
        with open(meta_path, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the printed line still stands alone
    print(printed_line(payload))
    spark.stop()


if __name__ == "__main__":
    main()
