"""Pipeline query waves I: dedup, text quality, similarity/ANN,
statistics, time-series/product analytics — split verbatim from
``__spark_entry__.py`` (round 12).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tablite_spark.plans.lifecycle import pin
from tablite_spark.registry._base import SF_SMOKE, _cents, _t  # noqa: F401


# --------------------------------------------------------------------
# pipeline operators (documents / embeddings)
# --------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.pipeline.dedup import exact_dedup
    d = _t(spark, sf, "documents")
    return exact_dedup(d, ["text"], id_col="doc_id").select("doc_id", "n_chars")


def text_stats(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.pipeline.text import text_statistics
    d = _t(spark, sf, "documents")
    return text_statistics(d, "text").select(
        "doc_id", "n_chars_computed", "n_tokens", "n_uniq_tokens",
        F.round(F.col("avg_token_len"), 4).alias("avg_token_len"))


def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.pipeline.text import fingerprint
    d = _t(spark, sf, "documents")
    return fingerprint(d, "text").select("doc_id", "fp")


def quality_score(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.pipeline.text import quality_scores
    d = _t(spark, sf, "documents")
    q = quality_scores(d, "text")
    return q.select("doc_id",
                    F.round(F.col("stopword_ratio"), 4).alias("stopword_ratio"),
                    F.round(F.col("quality"), 4).alias("quality"))


def embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.pipeline.similarity import brute_force_topk
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3)
    return brute_force_topk(emb, queries_df, k=5,
                            id_col="vec_id", vec_col="embedding")


def trigram_substring_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Substring search via trigram posting intersection (the pg_trgm
    recipe): candidates = docs containing EVERY needle trigram (one
    combinable groupBy == n_trigrams), then an id-keyed join back for
    the exact contains confirm — never a full-corpus LIKE scan when a
    durable index (build_trigram_index) is supplied. The oracle is a
    brute-force LIKE, so any candidate miss mismatches."""
    from tablite_spark.pipeline.retrieval import substring_search
    return substring_search(_t(spark, sf, "documents"), "text",
                            "doc_id", "the table")


def interpolate_events(spark: SparkSession, sf: str) -> DataFrame:
    """Series alignment: each error event gets the user's click-value
    linearly interpolated at the error's timestamp (two asof passes —
    union + ordered carry, one group-keyed shuffle each — then a
    row-local lerp; null outside the sampled range). Oracled against
    DuckDB's native ASOF joins both directions + the same IEEE lerp."""
    from tablite_spark.operators.timeseries import interpolate_at
    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts")
    out = interpolate_at(clicks, errors, "ts", "value",
                         by=["user_id"], method="linear")
    return out.select("event_id",
                      F.round(F.col("value"), 4).alias("value"))


def ema_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user EMA over click values (adjust=False recurrence, seed =
    first value, alpha=0.25 — exactly representable so the float op
    sequence is engine-independent). Grouped applyInPandas with the
    pandas C ewm kernel — the documented custom-op path for an
    order-dependent recurrence with no numerically-safe codegen
    rewrite. Oracle: a DuckDB RECURSIVE CTE running the identical
    0.75*e + 0.25*x recurrence in (ts, event_id) order."""
    from tablite_spark.operators.timeseries import ema_smooth
    e = _t(spark, sf, "events").filter(
        (F.col("event_type") == "click") & F.col("value").isNotNull())
    out = ema_smooth(e, "ts", "value", by=["user_id"], alpha=0.25,
                     tiebreak=["event_id"])
    # UNROUNDED on purpose: the recurrence is bitwise identical across
    # pandas/DuckDB (verified), while ROUND itself is not (Spark
    # HALF_UP on the decimal expansion vs DuckDB's scaled-binary
    # rounding disagree on 4-decimal knife-edges like 28.49125)
    return out.select("user_id", "event_id", "ema")


def dsir_weights_docs(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) of every document
    toward the French-language subset: hashed uni+bigram bag-of-ngram
    log-likelihood ratio, integer micronats. The md5-prefix bucket
    function and the add-1-smoothed log ratios are replayed verbatim
    by the DuckDB oracle."""
    from tablite_spark.pipeline.selection import dsir_weights
    d = _t(spark, sf, "documents")
    return dsir_weights(d, d.filter(F.col("lang") == "fr"),
                        "text", "doc_id", buckets=256)


def dsir_select_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 most-target-like docs by DSIR weight (deterministic
    rank: weight desc, doc_id asc; salted two-phase top-k — no global
    single-task sort)."""
    from tablite_spark.pipeline.selection import dsir_select
    d = _t(spark, sf, "documents")
    return dsir_select(d, d.filter(F.col("lang") == "fr"),
                       "text", "doc_id", k=50, buckets=256)


def winnow_fps_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprints (MOSS, Schleimer et al. 2003) of the
    first 20 documents: char-8-gram md5-prefix hashes, window-4
    rightmost-min selection — every selected (fp, pos) replayed
    bit-for-bit by DuckDB list ops (the hash is the DSIR md5 recipe,
    so selection ORDER is engine-independent)."""
    from tablite_spark.pipeline.dedup import winnow_fingerprints
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 20)
    return winnow_fingerprints(d, "text", "doc_id", k=8, window=4)


def winnow_matches_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-100 partial-copy candidate pairs by shared winnowing
    fingerprints (k=12, window=6, boilerplate fingerprints in >25
    docs dropped before pairing — the MOSS too-common cut, so a hot
    fingerprint can never fan out quadratically). Deterministic rank
    (shared desc, id_a, id_b) via the salted two-phase top-k."""
    from pyspark.sql import Window

    from tablite_spark.pipeline.dedup import winnow_matches
    m = winnow_matches(_t(spark, sf, "documents"), "text", "doc_id",
                       k=12, window=6, max_df=25)
    order = [F.col("shared_fps").desc(), F.col("id_a").asc(),
             F.col("id_b").asc()]
    w1 = Window.partitionBy("__salt__").orderBy(*order)
    w2 = Window.partitionBy(F.lit(1)).orderBy(*order)
    return (m.withColumn("__salt__", F.spark_partition_id())
            .withColumn("__r1__", F.row_number().over(w1))
            .filter(F.col("__r1__") <= 100)
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= 100)
            .select("id_a", "id_b", "shared_fps", "rank"))


def tfidf_keywords_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 tf-idf keywords per document: integer-micronat idf per
    TERM (floor(1e6·ln((N+1)/(df+1)))), so the per-doc scores are
    exact integers; the df table derives from the tf frame
    (vocab-bounded — no second corpus scan); the final top-k is a
    doc-partitioned row_number (millions of small partitions, no hot
    key). Oracle: DuckDB replays tf, df, the quantized idf and the
    ranked cut."""
    from tablite_spark.pipeline.text import tfidf_keywords
    return tfidf_keywords(_t(spark, sf, "documents"), "text",
                          "doc_id", k=3)


def ab_welch_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Welch's t-test between event types over `value`: one
    combinable groupBy pass (n/mean/var_samp) + a broadcast self-join
    of the |groups|-row summary. Oracle: the same closed formula in
    DuckDB SQL."""
    from tablite_spark.operators.stats import ab_welch
    return ab_welch(_t(spark, sf, "events"), "event_type", "value")


def pca_covariance_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding table via
    per-partition numpy Gram partials (O(dim²) rows emitted per
    partition, one combinable groupBy — no row ever shuffles).
    Oracle: DuckDB avg(e_i·e_j) − avg(e_i)·avg(e_j) per cell with
    float32→double promotion matching numpy's."""
    from tablite_spark.pipeline.decomp import covariance_matrix
    emb = _t(spark, sf, "embeddings")
    return covariance_matrix(emb, "embedding", 64).select(
        "i", "j", F.round(F.col("cov"), 4).alias("cov"))


def pca_project_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Top-4 principal components fitted on the driver (64×64 eigh on
    the distributed covariance, sign-normalized) and projected back
    over the corpus in one broadcast matmul pass. Oracle (r10): the
    deterministic fitted components are PINNED as a VALUES table
    (see _pca_project_oracle) and DuckDB recomputes the projection
    as plain SQL dot products — hash-checkable like every other
    entry; component properties additionally pytest-asserted
    (tests/test_selection_decomp.py)."""
    from tablite_spark.pipeline.decomp import pca_fit, pca_project
    emb = _t(spark, sf, "embeddings")
    comps, _ = pca_fit(emb, "embedding", 64, 4)
    p = pca_project(emb, comps, "vec_id", "embedding")
    return p.select("vec_id",
                    *[F.round(F.element_at("proj", i + 1), 4)
                      .alias(f"pc{i}") for i in range(4)])


def corr_matrix_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric measures in
    ONE combinable aggregation pass (F.corr partial-merges map-side —
    the PCA Gram discipline, expression-only); the long layout is an
    inline explode of the single agg row. Oracle: DuckDB corr() per
    pair."""
    from tablite_spark.operators.stats import pairwise_corr
    li = _t(spark, sf, "lineitem")
    out = pairwise_corr(li, ["l_quantity", "l_extendedprice",
                             "l_discount", "l_tax"])
    return out.select("col_a", "col_b", "n",
                      F.round(F.col("corr"), 4).alias("corr"))


def group_quantiles_events(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-event-type quantiles (percentile_cont linear
    interpolation) of `value` — one spill-aware ObjectHashAggregate
    groupBy; the combinable GK-sketch path is the documented 100 TB
    valve (pytest-pinned within its accuracy bound). Oracle: DuckDB
    quantile_cont over the same groups."""
    from tablite_spark.operators.stats import group_quantiles
    ev = _t(spark, sf, "events")
    out = group_quantiles(ev, ["event_type"], "value",
                          [0.25, 0.5, 0.75, 0.95], exact=True)
    return out.select("event_type", "q",
                      F.round(F.col("value"), 4).alias("value"))


def mutual_info_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Mutual information + marginal entropies between the documents
    table's lang and source columns: one combinable groupBy(x, y)
    corpus pass, marginals as window sums OVER THE JOINT (cardinality-
    bounded, never corpus-bounded), N as a lazy reused-exchange
    scalar. Oracle: the same closed formula in DuckDB window SQL."""
    from tablite_spark.operators.stats import mutual_information
    docs = _t(spark, sf, "documents")
    out = mutual_information(docs, "lang", "source")
    return out.select("n",
                      F.round(F.col("mi_nats"), 4).alias("mi_nats"),
                      F.round(F.col("h_x"), 4).alias("h_x"),
                      F.round(F.col("h_y"), 4).alias("h_y"))


def rolling_avg_events(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 15-minute rolling avg/count/sum of click values per
    user: one hash(user) shuffle, a VALUE-RANGE window frame over
    microsecond epochs (two monotone pointers per partition, O(n)
    amortized, JVM-side) — duplicate timestamps are frame peers so
    the result is deterministic under any tie order. Oracle: DuckDB
    RANGE BETWEEN INTERVAL 15 MINUTES PRECEDING AND CURRENT ROW."""
    from tablite_spark.operators.timeseries import rolling_agg
    ev = _t(spark, sf, "events").filter(F.col("event_type") == "click")
    out = rolling_agg(ev, "ts", "value", ["user_id"], "15 minutes",
                      funcs=("avg", "count", "sum"))
    return out.select("event_id",
                      F.round(F.col("roll_avg"), 4).alias("roll_avg"),
                      F.col("roll_count"),
                      F.round(F.col("roll_sum"), 4).alias("roll_sum"))


def state_intervals_events(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 gaps-and-islands collapse of each user's event-type runs
    into validity intervals: one hash(user) shuffle reused by both
    windows and the combinable groupBy; revisited states start NEW
    intervals. Oracle: the same lag/running-sum/lead chain in DuckDB
    SQL."""
    from tablite_spark.operators.timeseries import state_intervals
    ev = _t(spark, sf, "events")
    return state_intervals(ev, "user_id", "event_type", "ts",
                           tiebreak="event_id")



def outliers_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type z-score outliers over `value` (|x - mean| >
    3*stddev_samp): one combinable groupBy collapses the corpus to a
    |groups|-row summary, joined back UNHINTED so AQE broadcasts at
    runtime (and a 100M-group variant degrades to a keyed join
    instead of a forced-broadcast OOM). Oracle: the same fence in
    DuckDB SQL."""
    from tablite_spark.operators.stats import group_outliers
    ev = _t(spark, sf, "events")
    out = group_outliers(ev, ["event_type"], "value",
                         method="zscore", threshold=3.0)
    return (out.filter(F.col("is_outlier"))
            .select("event_id", "event_type",
                    F.round(F.col("value"), 4).alias("value")))


def jaccard_join_docs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT token-set Jaccard self-join at t=0.8 over a 150-doc
    subset (the full synthetic corpus is template-generated and
    genuinely carries ~30k >=0.8 pairs — the winnow burn-in lesson);
    PPJoin prefix filtering: only each doc's rarest
    |S|-ceil(t|S|)+1 tokens enter the candidate join (pigeonhole-
    complete, no false negatives), exact array_intersect verify.
    jaccard = exact-int division, bit-identical cross-engine, no
    rounding needed. Oracle: brute-force DuckDB list_intersect over
    all pairs of the subset."""
    from tablite_spark.pipeline.dedup import jaccard_join
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") % 10 == 0)
    return jaccard_join(docs, "text", "doc_id", threshold=0.8)


def path_ngrams_events(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 3-step user journeys: one hash(user) shuffle, n-grams
    built row-locally from lead() (never a per-user collect_list — a
    hot user's history would materialize as one array), combinable
    global path count, ordered limit over the tiny distinct-path
    frame. Oracle: the same lead-window chain in DuckDB."""
    from tablite_spark.operators.timeseries import path_ngrams
    ev = _t(spark, sf, "events")
    return path_ngrams(ev, "user_id", "event_type", "ts", n=3, k=20,
                       tiebreak="event_id")


def ks_test_events(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the click and view
    value distributions: distributed ECDFs via per-value census +
    range-bucketed prefix sums (the spearman discipline — never a
    global-order window), sup-difference as ONE combinable max,
    asymptotic Kolmogorov-series p-value (100 terms, evaluated
    identically by both engines; rounding margin pinned in pytest).
    Oracle: DuckDB window cumulative ECDFs + the same series."""
    from tablite_spark.operators.stats import ks_test_2sample
    ev = _t(spark, sf, "events")
    out = ks_test_2sample(ev, "event_type", "value", "click", "view")
    return out.select("n_a", "n_b",
                      F.round(F.col("d_stat"), 4).alias("d_stat"),
                      F.round(F.col("p_value"), 4).alias("p_value"))


def chi2_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-squared independence test + Cramér's V between documents
    lang and source — the frequentist twin of mutual_info_docs: ONE
    combinable groupBy(x, y) corpus pass, marginals as window sums
    over the cardinality-bounded joint, N/|X|/|Y| on a lazy
    ReusedExchange scalar branch, expected counts formed double*long
    (never the ANSI-overflow long*long). Oracle: the same closed
    formula in DuckDB window SQL."""
    from tablite_spark.operators.stats import chi2_independence
    docs = _t(spark, sf, "documents")
    out = chi2_independence(docs, "lang", "source")
    return out.select("n", "dof",
                      F.round(F.col("chi2"), 4).alias("chi2"),
                      F.round(F.col("cramers_v"), 4)
                      .alias("cramers_v"))


def equidepth_hist_events(spark: SparkSession, sf: str) -> DataFrame:
    """10-bucket equi-depth histogram of events.value: exact
    percentile_cont edges in one spill-aware ObjectHashAggregate
    (GK-sketch valve for 100 TB), bins-1 edges collected driver-side
    (bounded), then a pure JVM O(bins) bucket expression into one
    combinable groupBy. Edge ties go to the LOWER bucket on both
    engines. Oracle: DuckDB quantile_cont edges + the same strict->
    comparisons."""
    from tablite_spark.operators.stats import equi_depth_histogram
    ev = _t(spark, sf, "events")
    out = equi_depth_histogram(ev, "value", bins=10)
    return out.select("bin", F.round(F.col("lo"), 4).alias("lo"),
                      F.round(F.col("hi"), 4).alias("hi"), "n_rows")


def heavy_hitters_docs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT heavy-hitter tokens (frequency > 1% of corpus tokens)
    via two-pass Misra-Gries: per-partition bounded counters whose
    candidate union is pigeonhole-COMPLETE, then an exact count of
    candidates only — no stage ever shuffles the full token domain
    (the 100 TB story for unbounded-cardinality columns; plain
    groupBy would shuffle every distinct token). Oracle: brute-force
    DuckDB GROUP BY HAVING over all tokens."""
    from tablite_spark.operators.frequency import heavy_hitters
    docs = _t(spark, sf, "documents")
    tok = (docs.select(F.explode(F.split(F.lower(F.col("text")),
                                         "[^a-z0-9]+")).alias("tok"))
           .filter(F.col("tok") != ""))
    out = heavy_hitters(tok, "tok", phi=0.01)
    return out.select(F.col("value").alias("token"), "cnt",
                      F.round(F.col("share"), 6).alias("share"))


def markov_events(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event-type
    sequences: one hash(user) shuffle for the lead() window, then a
    combinable groupBy collapsing to the |states|^2 frame with
    row-normalizing window sums over that bounded frame. Oracle:
    DuckDB lead() + counts."""
    from tablite_spark.operators.timeseries import markov_transitions
    ev = _t(spark, sf, "events")
    out = markov_transitions(ev, "user_id", "event_type", "ts",
                             tiebreak="event_id")
    return out.select("state", "next_state", "n",
                      F.round(F.col("p"), 4).alias("p"))


def target_encode_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free 5-fold out-of-fold target encoding of
    o_orderpriority against o_totalprice (smoothing 20 toward the
    fold-excluded global mean; folds = pmod(o_orderkey, 5), engine-
    portable): ONE combinable groupBy(cat, fold) summary, window
    totals over the bounded summary, null-safe AQE-broadcast join
    back. Oracle: the same window algebra in DuckDB SQL."""
    from tablite_spark.pipeline.features import target_encode
    o = _t(spark, sf, "orders")
    out = target_encode(o, "o_orderpriority", "o_totalprice",
                        "o_orderkey", folds=5, smoothing=20.0)
    return out.select("o_orderkey", "o_orderpriority",
                      F.round(F.col("o_orderpriority_te"), 4)
                      .alias("te"))


def outliers_mad_events(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-event-type outliers via the MAD fence
    (|x - median| > 3 * 1.4826 * MAD) — immune to the outliers
    inflating the fence, unlike the zscore twin: median and the
    nested MAD median are two spill-aware percentile passes on a
    |groups|-row summary, then an AQE-broadcast null-safe join back.
    Oracle: DuckDB median()/mad() (both quantile_cont-interpolated,
    exactly matching F.percentile)."""
    from tablite_spark.operators.stats import group_outliers
    ev = _t(spark, sf, "events")
    out = group_outliers(ev, ["event_type"], "value",
                         method="mad", threshold=3.0)
    return (out.filter(F.col("is_outlier"))
            .select("event_id", "event_type",
                    F.round(F.col("value"), 4).alias("value")))


def benford_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Benford first-significant-digit screen of o_totalprice: the
    digit is a pure row-local expression, the corpus collapses in
    ONE combinable 9-bucket groupBy, N is a window sum over the
    9-row frame. Oracle: the same closed formula in DuckDB."""
    from tablite_spark.operators.stats import benford_digits
    o = _t(spark, sf, "orders")
    out = benford_digits(o, "o_totalprice")
    return out.select("digit", "n_obs",
                      F.round(F.col("share"), 6).alias("share"),
                      F.round(F.col("benford_share"), 6)
                      .alias("benford_share"),
                      F.round(F.col("chi2_term"), 4)
                      .alias("chi2_term"))


def acf_events(spark: SparkSession, sf: str) -> DataFrame:
    """Autocorrelation of per-user event values at lags 0..5: ONE
    hash(user) shuffle drives a single Window operator with all six
    lag() columns (O(1)-incremental frames, no sliding rebuild),
    then ONE combinable agg computes every lag's guarded co-moments
    (ANSI-safe). Oracle: DuckDB lag() + corr() per lag."""
    from tablite_spark.operators.timeseries import cross_correlation
    ev = _t(spark, sf, "events")
    out = cross_correlation(ev, "user_id", "ts", "value", "value",
                            max_lag=5, tiebreak="event_id")
    return out.select("lag", "n",
                      F.round(F.col("ccf"), 4).alias("ccf"))


def attribution_events(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution of purchase values to the most recent
    preceding view/click/signup touch per user: one hash(user)
    shuffle, a running last(ignorenulls) carry (O(1)-incremental
    UNBOUNDED PRECEDING frame — never an as-of self-join's second
    corpus shuffle), then a |channels|-bounded combinable groupBy.
    Conversions with no prior touch land in the NULL channel.
    Oracle: DuckDB last_value(... IGNORE NULLS) over the same
    running frame."""
    from tablite_spark.operators.timeseries import attribute_conversions
    ev = _t(spark, sf, "events")
    out = attribute_conversions(ev, "user_id", "ts", "event_type",
                                "value", "purchase",
                                ["view", "click", "signup"],
                                tiebreak="event_id")
    return out.select("channel", "n_conversions",
                      F.round(F.col("attributed_value"), 4)
                      .alias("attributed_value"))


def stream_attribution_events(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of attribution_events, driver-oracled with a
    REAL StreamingQuery: the events table splits at its median
    timestamp into two mtime-pinned micro-batches (a global time
    split preserves each user's order across batches — the
    sequential-algebra ingestion contract), drains with availableNow
    through applyInPandasWithState, and the per-user last-touch
    carry CROSSES the batch boundary. Emits row-level attributed
    conversions (event_id, channel, value) — the batch window
    formula reproduces them exactly, which is the oracle."""
    import tempfile

    from tablite_spark.streaming.fixtures import (
        stage_stream_batches, stream_shuffle_partitions)
    from tablite_spark.streaming.ops import streaming_attribution
    ev = _t(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP (UTC session
    # — the reinterpretation is monotone, the rolling_agg rule)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.agg(F.percentile(us, F.lit(0.5))
                 .alias("m")).collect()[0]["m"]
    root = tempfile.mkdtemp(prefix="attr_stream_")
    src = stage_stream_batches(root, "src", [
        ev.filter(us <= F.lit(int(cut))),
        ev.filter(us > F.lit(int(cut)))])
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double")
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    with stream_shuffle_partitions(spark, src):
        q = (streaming_attribution(stream)
             .writeStream.format("parquet")
             .option("path", f"{root}/out")
             .option("checkpointLocation", f"{root}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    out = spark.read.parquet(f"{root}/out")
    return out.select("event_id", "channel",
                      F.round(F.col("value"), 4).alias("value"))


def auc_events(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT ROC-AUC (tie-aware Mann-Whitney rank sum) of
    value/500 as a purchase score: per-score census + the
    spearman-style DISTRIBUTED prefix-sum ranks — never a
    global-order rank() window. Average ranks are half-integers
    (exact doubles), so the rank-sum and AUC are BIT-IDENTICAL
    cross-engine — no rounding needed. Oracle: DuckDB rank window
    formula."""
    from tablite_spark.pipeline.evaluation import binary_auc
    ev = _t(spark, sf, "events")
    scored = ev.select((F.col("value") / 500.0).alias("s"),
                       (F.col("event_type") == "purchase")
                       .alias("y"))
    return binary_auc(scored, "s", "y")


def calibration_events(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability diagram of the clamped purchase score over 10
    fixed-width bins: the bin is a row-local expression, ONE
    combinable groupBy. frac_pos is an exact-integer division
    (bit-identical); mean_score rounds (sum-order differs across
    engines). Oracle: the same bucketing in DuckDB."""
    from tablite_spark.pipeline.evaluation import calibration_bins
    ev = _t(spark, sf, "events")
    scored = ev.select(
        F.least(F.col("value") / 500.0, F.lit(1.0)).alias("s"),
        (F.col("event_type") == "purchase").alias("y"))
    out = calibration_bins(scored, "s", "y", bins=10)
    return out.select("bin", "n",
                      F.round(F.col("mean_score"), 4)
                      .alias("mean_score"), "frac_pos")


def confusion_events(spark: SparkSession, sf: str) -> DataFrame:
    """Threshold confusion counts + accuracy/precision/recall/F1 in
    ONE combinable aggregation (guarded divisions — degenerate
    denominators yield NULL, never an ANSI error); every derived
    metric is a division of identical integers, bit-identical
    cross-engine. Oracle: mirrored filters + the same formula
    sequence in DuckDB."""
    from tablite_spark.pipeline.evaluation import confusion_metrics
    ev = _t(spark, sf, "events")
    scored = ev.select((F.col("value") / 500.0).alias("s"),
                       (F.col("event_type") == "purchase")
                       .alias("y"))
    return confusion_metrics(scored, "s", "y", threshold=0.3)


def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between two nations, adapted to the
    synthetic schema): lineitem joins orders/customer on keys
    (corpus-scale, left to AQE) while supplier and both nation dims
    BROADCAST; the nation-pair disjunction prunes early. One shuffle
    chain, one combinable final groupBy. Oracle: the same SQL in
    DuckDB."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation"))
    out = (li.filter(F.col("l_shipdate")
                     .between("1996-01-01", "1997-12-31"))
           .join(o, li["l_orderkey"] == o["o_orderkey"])
           .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
           .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
           .join(F.broadcast(n1), s["s_nationkey"] == F.col("s_nk"))
           .join(F.broadcast(n2), c["c_nationkey"] == F.col("c_nk"))
           .filter(((F.col("supp_nation") == "NATION_1")
                    & (F.col("cust_nation") == "NATION_2"))
                   | ((F.col("supp_nation") == "NATION_2")
                      & (F.col("cust_nation") == "NATION_1")))
           .groupBy("supp_nation", "cust_nation",
                    F.year("l_shipdate").alias("l_year"))
           .agg(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))).alias("rev_")))
    return out.select("supp_nation", "cust_nation", "l_year",
                      F.round(F.col("rev_"), 4).alias("revenue"))


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 (national market share of NATION_5 for PROMO parts
    sold into ASIA): part filters BEFORE the join and broadcasts
    (the classic selective-dim pushdown), supplier/customer/nation/
    region all broadcast; the yearly share is a guarded conditional
    sum over one combinable groupBy. Oracle: same SQL."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_regionkey").alias("c_rk"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .filter(F.col("o_orderdate")
                    .between("1996-01-01", "1997-12-31"))
            .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
            .join(F.broadcast(n2), c["c_nationkey"] == F.col("c_nk"))
            .join(F.broadcast(r), F.col("c_rk") == r["r_regionkey"])
            .filter(F.col("r_name") == "ASIA")
            .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
            .join(F.broadcast(n1), s["s_nationkey"] == F.col("s_nk")))
    out = (base.groupBy(F.year("o_orderdate").alias("o_year"))
           .agg((F.sum(F.when(F.col("supp_nation") == "NATION_5",
                              vol).otherwise(0.0)) / F.sum(vol))
                .alias("share_")))
    return out.select("o_year",
                      F.round(F.col("share_"), 6).alias("mkt_share"))


def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 (top-20 customers by returned-item revenue in one
    quarter): orders date-prunes before the lineitem join, customer/
    nation broadcast, top-20 via a deterministic (revenue DESC,
    custkey) global sort of the |customers|-bounded aggregate — the
    sort runs on the SUMMARY, never on line items. Oracle: same
    SQL."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    out = (li.filter(F.col("l_returnflag") == "R")
           .join(o.filter(F.col("o_orderdate")
                          .between("1995-10-01", "1995-12-31")),
                 li["l_orderkey"] == o["o_orderkey"])
           .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
           .join(F.broadcast(n),
                 c["c_nationkey"] == n["n_nationkey"])
           .groupBy("c_custkey", "c_name", "n_name")
           .agg(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))).alias("rev_"))
           .orderBy(F.col("rev_").desc(), F.col("c_custkey"))
           .limit(20))
    return out.select("c_custkey", "c_name", "n_name",
                      F.round(F.col("rev_"), 4).alias("revenue"))


def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution, comment filter
    omitted — the synthetic orders table carries no comment): LEFT
    join keeps zero-order customers, two combinable groupBys
    (per-customer count, then the bounded count histogram). Oracle:
    same SQL."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    per = (c.join(o, c["c_custkey"] == o["o_custkey"], "left")
           .groupBy(c["c_custkey"])
           .agg(F.count("o_orderkey").alias("c_count")))
    return (per.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.col("custdist").desc(),
                     F.col("c_count").desc()))


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 (top supplier by quarterly revenue): the revenue
    view is one combinable groupBy(suppkey); the max is a 1-row
    broadcast joined back (never a global-order window over
    suppliers). Oracle: same SQL with a scalar subquery."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    rev = (li.filter(F.col("l_shipdate")
                     .between("1996-01-01", "1996-03-31"))
           .groupBy(F.col("l_suppkey").alias("supplier_no"))
           .agg(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount")))
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx_"))
    out = (rev.join(F.broadcast(mx),
                    F.col("total_revenue") == F.col("mx_"))
           .join(F.broadcast(s),
                 F.col("supplier_no") == s["s_suppkey"]))
    return out.select("s_suppkey", "s_name",
                      F.round(F.col("total_revenue"), 4)
                      .alias("total_revenue"))


def gini_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient + Theil index of order totals: the tie-safe
    rank formula over the SAME distributed census prefix sum as AUC
    (never a global-order window); Theil folds to the one-pass
    identity sum(x ln x)/(n mu) - ln(mu) and rides the same census
    aggregate — one corpus scan total. Oracle: DuckDB rank-window
    formula."""
    from tablite_spark.operators.stats import inequality_metrics
    o = _t(spark, sf, "orders")
    out = inequality_metrics(o, "o_totalprice")
    return out.select("n", F.round(F.col("mean"), 4).alias("mean"),
                      F.round(F.col("gini"), 6).alias("gini"),
                      F.round(F.col("theil"), 6).alias("theil"))


def ols_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Per-returnflag simple linear regression of extendedprice on
    quantity: all five moments in ONE combinable groupBy (map-side
    partials, |groups|-row shuffle, no window/join/second scan);
    guarded degenerate groups. Oracle: DuckDB covar_pop/var_pop
    closed form."""
    from tablite_spark.operators.stats import group_ols
    li = _t(spark, sf, "lineitem")
    out = group_ols(li, ["l_returnflag"], "l_quantity",
                    "l_extendedprice")
    return out.select("l_returnflag", "n",
                      F.round(F.col("slope"), 4).alias("slope"),
                      F.round(F.col("intercept"), 4)
                      .alias("intercept"),
                      F.round(F.col("r2"), 6).alias("r2"))


def km_survival_events(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier survival over event values (error rows =
    right-censored): per-duration census + TWO distributed prefix
    sums (counts for n_at_risk, then log-domain survival) over the
    spearman-style range buckets — never a global-order window; the
    everyone-dies-at-the-end ln(0) case uses a finite sentinel whose
    exp is exactly 0.0 on both engines. Oracle: DuckDB window
    cumulative formula."""
    from tablite_spark.operators.stats import km_curve
    ev = _t(spark, sf, "events")
    out = km_curve(ev, "value", F.col("event_type") != "error")
    return out.select("duration", "n_at_risk", "n_events",
                      F.round(F.col("survival"), 4)
                      .alias("survival"))


def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 (min-cost supplier, adapted: the synthetic schema has
    no partsupp, so the supply offer is the per-(part,supplier)
    MINIMUM observed unit price from lineitem — ref tablite does the
    same correlated-min via groupby+lookup). Offers aggregate ONCE
    (combinable min), the per-part min joins back by exact double
    equality (both engines min over the SAME division results — IEEE
    division is order-free), supplier/nation/region/part all
    broadcast. Never a correlated per-row subquery. Oracle: same
    plan in SQL."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    p = _t(spark, sf, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10))
    eu = (s.join(F.broadcast(n),
                 s["s_nationkey"] == n["n_nationkey"])
          .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    offers = (li.filter(F.col("l_quantity") > 0)
              .groupBy("l_partkey", "l_suppkey")
              .agg(F.min(F.col("l_extendedprice")
                         / F.col("l_quantity")).alias("unit_cost")))
    oe = (offers.join(F.broadcast(eu),
                      F.col("l_suppkey") == F.col("s_suppkey"))
          .join(F.broadcast(p.select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey")))
    # r14 optimization round (guide §2.1): oe feeds BOTH the per-part
    # min and the final equality join — unpinned, the lineitem scan +
    # offers aggregation ran twice. The pin is the filtered offer
    # sliver (EUROPE suppliers × qualifying parts), the same size
    # class the min-join shuffles anyway. persist (not checkpoint)
    # keeps the lineage in the plan, so the pushdown/broadcast audit
    # of the pre-pin phase stays visible (test_plans).
    oe = pin(oe, eager=False)
    mn = oe.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("unit_cost").alias("mn_cost"))
    out = oe.join(F.broadcast(mn),
                  (F.col("p_partkey") == F.col("mk"))
                  & (F.col("unit_cost") == F.col("mn_cost")))
    # unit_cost is emitted UNROUNDED: both engines divide the same
    # doubles (IEEE division is deterministic), so the values are
    # bit-identical — while ROUND would tie-break dyadic quotients
    # like .8125 differently (Spark HALF_UP vs DuckDB), the exact
    # flake class the sf0.1 audit caught.
    return out.select("s_acctbal", "s_name", "n_name", "p_partkey",
                      "unit_cost")


def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 (product-type profit by nation and year, adapted:
    supply cost proxied as 0.6 * p_retailprice since there is no
    partsupp). The 'red' part filter prunes BEFORE the broadcast
    join; supplier+nation broadcast; one combinable groupBy. profit
    is a row-local expression — stays in whole-stage codegen.
    Oracle: same SQL."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    p = _t(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.6 * F.col("p_retailprice") * F.col("l_quantity"))
    out = (li.join(F.broadcast(p.select("p_partkey",
                                        "p_retailprice")),
                   li["l_partkey"] == F.col("p_partkey"))
           .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
           .join(F.broadcast(n),
                 s["s_nationkey"] == n["n_nationkey"])
           .groupBy(F.col("n_name").alias("nation"),
                    F.year("l_shipdate").alias("o_year"))
           .agg(F.sum(profit).alias("p_")))
    return out.select("nation", "o_year",
                      F.round(F.col("p_"), 4).alias("sum_profit"))


def q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 (important stock, adapted: part 'value' is NATION_3
    suppliers' lineitem revenue instead of availqty*supplycost).
    Per-part value is ONE combinable groupBy; the global threshold is
    a 1-row aggregate of the SAME frame crossJoin-broadcast back —
    Catalyst materializes the value aggregate once (ReusedExchange),
    never a second corpus scan. The 2x-mean threshold is
    scale-free (a fixed corpus fraction empties at 10x the parts);
    boundary audited: min |value-thr| is 2e2 at sf0.01 / 0.5 at
    sf0.1, >=1e3x above the ~1e-4 summation noise. Oracle: scalar subquery."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    sk = (s.join(F.broadcast(n.filter(F.col("n_name")
                                      == "NATION_3")),
                 s["s_nationkey"] == n["n_nationkey"])
          .select("s_suppkey"))
    val = (li.join(F.broadcast(sk),
                   li["l_suppkey"] == F.col("s_suppkey"))
           .groupBy("l_partkey")
           .agg(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))).alias("value_")))
    thr = val.agg((F.avg("value_") * 2.0).alias("thr_"))
    out = (val.crossJoin(F.broadcast(thr))
           .filter(F.col("value_") > F.col("thr_")))
    return out.select(F.col("l_partkey").alias("p_partkey"),
                      F.round(F.col("value_"), 4).alias("value"))


def q12_late_shipments(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 (shipping-priority counts, adapted: no
    shipmode/commitdate, so 'late' = shipped >90 days after the
    order date and l_linestatus stands in for shipmode). Date
    arithmetic is a row-local interval add (codegen, both engines
    exact on microsecond timestamps); one combinable conditional-sum
    groupBy after an equi join date-pruned on BOTH sides. Oracle:
    same SQL."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    out = (li.filter(F.col("l_shipdate")
                     .between("1996-01-01", "1997-12-31"))
           .join(o, li["l_orderkey"] == o["o_orderkey"])
           .filter(F.col("l_shipdate")
                   > F.col("o_orderdate")
                   + F.expr("INTERVAL 90 DAYS"))
           .groupBy("l_linestatus")
           .agg(F.sum(F.when(hi, 1).otherwise(0))
                .alias("high_line_count"),
                F.sum(F.when(hi, 0).otherwise(1))
                .alias("low_line_count")))
    return out


def q16_supplier_part_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 (supplier count per part attribute, adapted: the
    part-supplier relation is distinct lineitem pairs; 'complaint'
    suppliers = s_name ending in 7). Anti join the excluded
    suppliers (broadcast — |suppliers| rows), distinct-count per
    bounded (brand,type,size) key; the distinct agg is the classic
    two-phase expand (partial per-key dedup map-side). Oracle: same
    SQL with NOT IN."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    p = _t(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    excl = s.filter(F.col("s_name").like("%7")).select("s_suppkey")
    out = (li.join(F.broadcast(p.select("p_partkey", "p_brand",
                                        "p_type", "p_size")),
                   li["l_partkey"] == F.col("p_partkey"))
           .join(F.broadcast(excl),
                 li["l_suppkey"] == F.col("s_suppkey"),
                 "left_anti")
           .groupBy("p_brand", "p_type", "p_size")
           .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))
    return out


def q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    per-part avg subquery becomes ONE groupBy over the
    already-part-filtered lineitems joined back broadcast (|parts|
    rows). Quantities are integer-valued doubles, so the avg is
    bit-identical cross-engine (exact integer sums) and the 0.2*avg
    boundary cannot flake. Oracle: correlated scalar subquery —
    validating the join-back reformulation against the literal
    form."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_type") == "MEDIUM"))
    li2 = li.join(F.broadcast(p.select("p_partkey")),
                  li["l_partkey"] == F.col("p_partkey"))
    lim = (li2.groupBy(F.col("l_partkey").alias("pk"))
           .agg((F.avg("l_quantity") * 0.2).alias("lim_")))
    out = (li2.join(F.broadcast(lim), F.col("l_partkey")
                    == F.col("pk"))
           .filter(F.col("l_quantity") < F.col("lim_"))
           .agg((F.sum("l_extendedprice") / 7.0).alias("a_")))
    return out.select(F.round(F.col("a_"), 4).alias("avg_yearly"))


def q20_promo_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 (part-promotion suppliers, adapted: 'has excess
    stock' = shipped more than 50 units of one PROMO part in 1996).
    The nested IN-subquery chain becomes groupBy-HAVING -> distinct
    -> LEFT SEMI join (Spark's native EXISTS plan); part + the
    qualifying-supplier set broadcast. Quantity sums are
    integer-exact, so the >50 gate is deterministic. Oracle: IN
    subqueries."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    q = (li.filter(F.col("l_shipdate")
                   .between("1996-01-01", "1996-12-31"))
         .join(F.broadcast(p.select("p_partkey")),
               li["l_partkey"] == F.col("p_partkey"))
         .groupBy("l_suppkey", "l_partkey")
         .agg(F.sum("l_quantity").alias("sq"))
         .filter(F.col("sq") > 50)
         .select("l_suppkey").distinct())
    out = (s.join(F.broadcast(q),
                  s["s_suppkey"] == F.col("l_suppkey"),
                  "left_semi")
           .join(F.broadcast(n),
                 F.col("s_nationkey") == n["n_nationkey"]))
    return out.select("s_suppkey", "s_name", "n_name")


def q21_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting, adapted: 'late'
    = l_returnflag R since there is no receipt/commit date). The
    double correlated EXISTS/NOT-EXISTS is reformulated as ONE
    per-order aggregate: the order qualifies iff it has >=2 distinct
    suppliers and EXACTLY ONE distinct late supplier — then min(late
    suppkey) IS that supplier. One shuffle on orderkey, |orders|-row
    second agg, supplier broadcast. The oracle runs the literal
    EXISTS form in DuckDB, so the reformulation itself is what is
    verified. Never a triple self-join of lineitem."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    s = _t(spark, sf, "supplier")
    late = F.when(F.col("l_returnflag") == "R",
                  F.col("l_suppkey"))
    per = (li.join(o, li["l_orderkey"] == F.col("o_orderkey"))
           .groupBy("l_orderkey")
           .agg(F.countDistinct("l_suppkey").alias("ns"),
                F.countDistinct(late).alias("nl"),
                F.min(late).alias("late_supp")))
    out = (per.filter((F.col("ns") >= 2) & (F.col("nl") == 1))
           .groupBy("late_supp")
           .agg(F.count(F.lit(1)).alias("numwait"))
           .join(F.broadcast(s),
                 F.col("late_supp") == s["s_suppkey"]))
    return out.select("s_name", "numwait")


def q22_dormant_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity, adapted: 'country code'
    = c_nationkey, 'no orders' = no orders since 2000). The
    positive-balance average is a 1-row broadcast; the recent-order
    customer set anti-joins WITHOUT a forced broadcast — at 100 TB
    distinct recent buyers is corpus-sized, so the anti join shuffles
    on custkey and AQE may still demote it to broadcast at small SF.
    Balance sums are pre-rounded synthetic 2-decimal values; the
    >avg boundary margin audited at sf0.01 (min gap 1e-2 vs 1e-12
    ulp). Oracle: same SQL."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab_"))
    recent = (o.filter(F.col("o_orderdate") >= "2000-01-01")
              .select("o_custkey"))
    out = (c.crossJoin(F.broadcast(avg_bal))
           .filter(F.col("c_acctbal") > F.col("ab_"))
           .join(recent, c["c_custkey"] == F.col("o_custkey"),
                 "left_anti")
           .groupBy(F.col("c_nationkey").alias("cntrycode"))
           .agg(F.count(F.lit(1)).alias("numcust"),
                F.sum("c_acctbal").alias("t_")))
    return out.select("cntrycode", "numcust",
                      F.round(F.col("t_"), 4).alias("totacctbal"))


def cusum_events(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM changepoint over the events value series (ordered by
    ts): census groupBy + DISTRIBUTED prefix sums (range buckets +
    in-bucket windows + ONE |buckets|-row offset collect) + a single
    max(struct) argmax with the exact integer index as tiebreak —
    never a global-order window. Top-2 |S| gap audited: 37.5 at
    sf0.01 / 3.0 at sf0.1, >=1e9x the cross-engine summation drift,
    so the argmax cannot flip. Oracle: DuckDB window cumsum +
    ORDER BY abs LIMIT 1."""
    from tablite_spark.operators.timeseries import cusum_changepoint
    ev = _t(spark, sf, "events")
    out = cusum_changepoint(ev, "ts", "value")
    return out.select("n", F.round(F.col("mean"), 4).alias("mean"),
                      "cp_index", "cp_at",
                      F.round(F.col("cusum"), 4).alias("cusum"),
                      F.round(F.col("cusum_abs"), 4)
                      .alias("cusum_abs"))


def expectations_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data-quality audit over orders: six rules
    (not-null key, totalprice range, status membership, priority
    pattern, unique key, positive price) verified in ONE combinable
    aggregation pass — one corpus scan for the whole contract, one
    row per rule. pass_rate is an exact integer ratio
    (bit-identical). Oracle: per-rule CASE sums UNION ALL."""
    from tablite_spark.operators.expect import expectations
    o = _t(spark, sf, "orders")
    rules = [
        {"rule": "custkey_not_null", "column": "o_custkey",
         "check": "not_null"},
        {"rule": "totalprice_range", "column": "o_totalprice",
         "check": "between", "low": 0.0, "high": 1e6},
        {"rule": "status_in_set", "column": "o_orderstatus",
         "check": "in_set", "values": ["F", "O", "P"]},
        {"rule": "priority_pattern", "column": "o_orderpriority",
         "check": "regex", "pattern": "^[1-5]-"},
        {"rule": "orderkey_unique", "column": "o_orderkey",
         "check": "unique"},
        {"rule": "price_positive", "column": "o_totalprice",
         "check": "min", "value": 0.01},
    ]
    return expectations(o, rules)


def feature_scale_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Robust (median/IQR) feature scaling of lineitem measures: the
    fit is ONE aggregation (exact percentile interpolation —
    bit-identical cross-engine on identical doubles, the
    group_quantiles precedent), broadcast back as a 1-row crossJoin;
    the transform is row-local codegen arithmetic, emitted UNROUNDED
    because subtraction/division of identical doubles is
    deterministic. Oracle: percentile_cont scalar subqueries."""
    from tablite_spark.pipeline.features import feature_scale
    li = _t(spark, sf, "lineitem")
    out = feature_scale(li, ["l_quantity", "l_extendedprice"],
                        method="robust")
    return out.select("l_orderkey", "l_linenumber",
                      "l_quantity_scaled", "l_extendedprice_scaled")


def weighted_quantiles_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted quantiles of extendedprice weighted by quantity:
    census groupBy + the shared distributed prefix-sum primitive +
    one explode-filter argmin per q — never a global-order window.
    Quantities are integer-valued, so cumulative weights are EXACT
    integers and every q·W comparison is bit-identical cross-engine
    (no rounding anywhere). Oracle: DuckDB cumulative-weight window
    formula."""
    from tablite_spark.operators.stats import weighted_quantiles
    li = _t(spark, sf, "lineitem")
    return weighted_quantiles(li, "l_extendedprice", "l_quantity",
                              [0.25, 0.5, 0.75, 0.95])


def seasonal_anomalies_events(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day seasonal anomaly screen over event values: scan 1
    pools within-hour variance from per-hour (n, Σx, Σx²) moments —
    24 rows, no residual materialization pass; scan 2 joins the
    broadcast hour means back and filters |resid| > 3σ row-locally.
    Boundary audited: min ||resid|-3σ| = 0.033 at sf0.01, ~3e7x the
    summation drift. Oracle: same pooled-variance SQL."""
    from tablite_spark.operators.stats import seasonal_anomalies
    ev = _t(spark, sf, "events")
    out = seasonal_anomalies(ev, "ts", "value", period="hour", k=3.0)
    return out.select("event_id", "value",
                      F.round(F.col("expected"), 4).alias("expected"),
                      F.round(F.col("z"), 4).alias("z"))


def winsorize_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorization of extendedprice at the [1%, 99%] exact
    percentiles: one fit aggregation broadcast back, row-local clip
    — emitted UNROUNDED (percentile interpolation and
    least/greatest of identical doubles are bit-identical
    cross-engine). Oracle: quantile_cont scalar subqueries +
    least/greatest."""
    from tablite_spark.pipeline.features import winsorize
    li = _t(spark, sf, "lineitem")
    out = winsorize(li, ["l_extendedprice"], 0.01, 0.99)
    return out.select("l_orderkey", "l_linenumber",
                      "l_extendedprice_wins")


def zipf_alpha_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Power-law exponent of the corpus token-frequency distribution
    (the pretraining-corpus health check): whitespace token census
    (explode -> combinable groupBy) then the one-aggregation
    Clauset-Shalizi-Newman MLE over tail tokens with count >= 5.
    Oracle: same census + closed form in DuckDB."""
    from tablite_spark.operators.stats import zipf_fit
    d = _t(spark, sf, "documents")
    toks = (d.select(F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok").agg(F.count(F.lit(1)).alias("f")))
    out = zipf_fit(toks, "f", fmin=5)
    return out.select("n_tail", "fmin", "f_max",
                      F.round(F.col("alpha"), 6).alias("alpha"))


def bigram_lm_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained add-k bigram LM fluency scores per document:
    bigrams build ROW-LOCALLY (arrays_zip of two slices, no window),
    the model is two combinable censuses + a broadcast vocab scalar,
    scoring is two keyed joins + one per-doc fold. Oracle: the same
    model in DuckDB via list indexing."""
    from tablite_spark.pipeline.text import bigram_lm_scores
    d = _t(spark, sf, "documents")
    out = bigram_lm_scores(d, "text", "doc_id", k=0.5)
    return out.select("doc_id", "n_bigrams",
                      F.round(F.col("avg_logprob"), 4)
                      .alias("avg_logprob"))


def stream_zscore_events(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming online z-score anomaly scoring, driver-oracled with
    a REAL StreamingQuery: the events table splits at its median
    timestamp into two mtime-pinned micro-batches, drains with
    availableNow through applyInPandasWithState, and each event's
    Welford (n, mean, M2) prior CROSSES the batch boundary — the
    expanding-frame window formula in DuckDB reproduces every score,
    which is the oracle."""
    import tempfile

    from tablite_spark.streaming.fixtures import (
        stage_stream_batches, stream_shuffle_partitions)
    from tablite_spark.streaming.ops import streaming_zscore
    ev = _t(spark, sf, "events").select(
        "event_id", "ts", "user_id", "value")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.agg(F.percentile(us, F.lit(0.5))
                 .alias("m")).collect()[0]["m"]
    root = tempfile.mkdtemp(prefix="zs_stream_")
    src = stage_stream_batches(root, "src", [
        ev.filter(us <= F.lit(int(cut))),
        ev.filter(us > F.lit(int(cut)))])
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "value double")
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    with stream_shuffle_partitions(spark, src):
        q = (streaming_zscore(stream)
             .writeStream.format("parquet")
             .option("path", f"{root}/out")
             .option("checkpointLocation", f"{root}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    out = spark.read.parquet(f"{root}/out")
    return out.select("user_id", "event_id", "n_prior",
                      F.round(F.col("z"), 4).alias("z"))


def isotonic_calibration_events(spark: SparkSession, sf: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the clamped purchase score
    over 20 bins, evaluated through the minimax closed form
    max_k min_j mean(y over bins k..j) — every segment mean is a
    ratio of exact integer counts, so rate AND the monotone fit are
    bit-identical cross-engine with NO rounding. The O(bins²)
    minimax runs over the ≤20-row census only. Oracle: the same
    closed form in SQL."""
    from tablite_spark.pipeline.evaluation import isotonic_calibration
    ev = _t(spark, sf, "events")
    scored = ev.select(
        F.least(F.col("value") / 500.0, F.lit(1.0)).alias("s"),
        (F.col("event_type") == "purchase").alias("y"))
    return isotonic_calibration(scored, "s", "y", bins=20)


def referential_audit_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Foreign-key integrity audit as one-pass left-join indicator
    sums (never anti-join-plus-count): orders→customer must be clean
    (0 orphans) and the reverse part→lineitem coverage reports parts
    that never sold. ok_rate is an exact integer ratio. Oracle:
    mirrored LEFT JOIN CASE sums."""
    from tablite_spark.operators.expect import referential_check
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    a = (referential_check(o, "o_custkey", c, "c_custkey")
         .select(F.lit("orders_customer").alias("relation"), "*"))
    b = (referential_check(p, "p_partkey", li, "l_partkey")
         .select(F.lit("part_sold").alias("relation"), "*"))
    return a.unionByName(b)


def json_props_events(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction: the events `props` JSON payload
    parses into typed columns via ONE row-local from_json projection
    (schema inferred from a bounded 1000-row sample — the O(sample)
    inference / O(corpus) codegen-parse split that scales); the
    extracted field aggregates per event_type. Oracle: DuckDB
    json_extract."""
    from tablite_spark.sources.io import parse_json_column
    ev = _t(spark, sf, "events")
    parsed = parse_json_column(ev, "props", prefix="p_")
    return (parsed.groupBy("event_type")
            .agg(F.count("p_k").alias("n"),
                 F.sum("p_k").alias("sum_k"),
                 F.min("p_k").alias("min_k"),
                 F.max("p_k").alias("max_k")))


def ranking_metrics_docs(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@10 + MRR@10 over a deterministic synthetic retrieval task
    (query = lang, candidates ranked by n_chars, relevant = web
    source): per-query windows with the (score DESC, id ASC)
    deterministic tiebreak — candidate lists serialize per query by
    contract, the corpus stays parallel across queries. Oracle: same
    row_number windows in DuckDB."""
    from tablite_spark.pipeline.evaluation import ranking_metrics
    d = _t(spark, sf, "documents")
    cand = d.select(F.col("lang").alias("q"),
                    F.col("doc_id").alias("id"),
                    F.col("n_chars").cast("double").alias("s"),
                    (F.col("source") == "web").cast("int")
                    .alias("rel"))
    out = ranking_metrics(cand, "q", "id", "s", "rel", k=10)
    return out.select("n_queries",
                      F.round(F.col("ndcg"), 6).alias("ndcg"),
                      F.round(F.col("mrr"), 6).alias("mrr"))


def logrank_events(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample log-rank test between even/odd user cohorts
    (duration = value, censored = error rows): per-duration census
    with per-group at-risk counts via the shared distributed prefix
    sums, then ONE scalar aggregate folds the hypergeometric O−E and
    variance terms. Oracle: the same census + window cumsums in
    DuckDB."""
    from tablite_spark.operators.stats import logrank_test
    ev = _t(spark, sf, "events").withColumn(
        "grp", (F.col("user_id") % 2).cast("int"))
    out = logrank_test(ev, "value", F.col("event_type") != "error",
                       "grp")
    return out.select("n_a", "n_b",
                      F.round(F.col("chi2"), 4).alias("chi2"))


def psi_orders_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population Stability Index of order totals, pre-1998 baseline
    vs 1998+ live: exact baseline quantile edges broadcast into
    row-local bucket cuts, ONE combinable census per side, PSI over
    the ≤10-row joined census with add-half smoothing. Oracle: same
    edges + formula in DuckDB."""
    from tablite_spark.operators.stats import psi_drift
    o = _t(spark, sf, "orders")
    exp = o.filter(F.col("o_orderdate") < "1998-01-01")
    act = o.filter(F.col("o_orderdate") >= "1998-01-01")
    out = psi_drift(exp, act, "o_totalprice", bins=10)
    return out.select("bins", "n_expected", "n_actual",
                      F.round(F.col("psi"), 6).alias("psi"))


def gains_table_events(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative gains / lift of the purchase score by decile: one
    exact-percentile fit, one bucket census, cumulative rates over
    the ≤10-row census only — every output an exact integer ratio
    (emitted UNROUNDED). Oracle: same banding in DuckDB."""
    from tablite_spark.pipeline.evaluation import gains_table
    ev = _t(spark, sf, "events")
    scored = ev.select((F.col("value") / 500.0).alias("s"),
                       (F.col("event_type") == "purchase")
                       .alias("y")).filter(F.col("s").isNotNull())
    return gains_table(scored, "s", "y", deciles=10)


def group_cusum_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type CUSUM changepoints over the value series: one
    (type, ts) census groupBy, per-type expanding windows over the
    census (each type's census serializes by contract — the ACF
    hot-key rule; types stay parallel), one max(struct) argmax per
    type. Oracle: the same per-key window cumsums in DuckDB."""
    from tablite_spark.operators.timeseries import group_cusum
    ev = _t(spark, sf, "events")
    out = group_cusum(ev, ["event_type"], "ts", "value")
    return out.select("event_type", "n",
                      F.round(F.col("mean"), 4).alias("mean"),
                      "cp_index", "cp_at",
                      F.round(F.col("cusum"), 4).alias("cusum"),
                      F.round(F.col("cusum_abs"), 4)
                      .alias("cusum_abs"))


def column_entropy_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon entropy of the documents lang/source columns: both
    columns melt through ONE stack projection into ONE (column,
    value) census groupBy — one corpus scan for k columns; the
    entropy fold uses the numerically-stable ln(n) − Σc·ln(c)/n
    identity over the vocab-bounded census. Oracle: same identity
    in DuckDB."""
    from tablite_spark.operators.stats import column_entropy
    d = _t(spark, sf, "documents")
    out = column_entropy(d, ["lang", "source"])
    return out.select("column", "n", "n_distinct",
                      F.round(F.col("entropy"), 6).alias("entropy"),
                      F.round(F.col("norm_entropy"), 6)
                      .alias("norm_entropy"))


def pmi_collocations_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Top-50 collocations by PMI over the documents corpus: pairs
    build row-locally, two combinable censuses, vocab-keyed joins,
    1-row broadcast N; the PMI log argument is a ratio of exact
    integer counts. Oracle: same censuses + formula in DuckDB."""
    from tablite_spark.pipeline.text import pmi_collocations
    d = _t(spark, sf, "documents")
    out = pmi_collocations(d, "text", k=50, min_count=5)
    return out.select("w1", "w2", "pair_count",
                      F.round(F.col("pmi"), 6).alias("pmi"))


def session_summary_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-entry-type session analytics (30-min gap sessions): lag+
    cumsum sessionization per user, ONE combinable per-session
    groupBy carrying the entry type via min_by on the portable
    order key, then a bounded per-entry-type fold — bounce rate /
    avg events / avg duration are exact integer ratios, emitted
    UNROUNDED. Oracle: the same lag/cumsum/arg_min chain in
    DuckDB."""
    from tablite_spark.operators.timeseries import session_summary
    ev = _t(spark, sf, "events")
    return session_summary(ev, "user_id", "ts", "event_type",
                           gap_seconds=1800, tiebreak="event_id")


def association_rules_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket association rules over orders as baskets and
    parts as items: basket-keyed self-join (per-basket |items|²
    fan-out, bounded by real basket size — never corpus²), census
    supports joined back, 1-row broadcast N; confidence and lift are
    exact integer ratios, unrounded, ranked (lift DESC, a, b).
    Oracle: the same joins in DuckDB."""
    from tablite_spark.operators.frequency import association_rules
    li = _t(spark, sf, "lineitem")
    return association_rules(li, "l_orderkey", "l_partkey",
                             min_support=3, k=50)


def funnel_window_events(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed view→click→purchase funnel: each hop must land
    within 1 HOUR of the previous step (the attribution-window
    semantics) — same selective-filter + conditional-min + user-key
    join chain as funnel_events, with an integer-microsecond hop
    bound (sub-second exact on both engines). Oracle: the chained
    CTEs with the same epoch_us bound."""
    from tablite_spark.operators.timeseries import funnel
    return funnel(_t(spark, sf, "events"),
                  ["view", "click", "purchase"],
                  within_seconds=3600)


def additive_seasonal_events(spark: SparkSession, sf: str) -> DataFrame:
    """Two-factor (hour + day-of-week) additive seasonal anomaly
    screen: all three factor means from ONE corpus scan via
    GROUPING SETS (Catalyst Expand feeding one combinable agg), the
    ≤32-row model broadcast back, pooled residual σ from a second
    scan — two scans total, no windows. Boundary margin audited:
    0.052 at sf0.01 / 0.011 at sf0.1, >=1e7x the drift. Oracle: the
    same GROUPING SETS model in DuckDB (day-of-week LABELS differ
    across engines but the row partition is identical, and only the
    fitted values are emitted)."""
    from tablite_spark.operators.timeseries import additive_seasonal
    ev = _t(spark, sf, "events")
    out = additive_seasonal(ev, "ts", "value", k=3.0)
    return out.select("event_id", "value",
                      F.round(F.col("expected"), 4).alias("expected"),
                      F.round(F.col("z"), 4).alias("z"))


def interarrival_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user inter-arrival rhythm stats (mean/sd gap, CV,
    Goh-Barabási burstiness): one per-key lag window (per-key
    serialization contract) + ONE combinable per-key aggregate;
    gaps are integer microseconds so the moments are deterministic
    up to summation drift (rounded). Oracle: the same lag window +
    stddev_pop in DuckDB."""
    from tablite_spark.operators.timeseries import interarrival_stats
    ev = _t(spark, sf, "events")
    out = interarrival_stats(ev, "user_id", "ts",
                             tiebreak="event_id")
    return out.select("user_id", "n_gaps",
                      F.round(F.col("mean_gap_s"), 4)
                      .alias("mean_gap_s"),
                      F.round(F.col("sd_gap_s"), 4)
                      .alias("sd_gap_s"),
                      F.round(F.col("cv"), 6).alias("cv"),
                      F.round(F.col("burstiness"), 6)
                      .alias("burstiness"))


def bootstrap_ci_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean order total: 100
    deterministic md5-hash resamples — the ×100 explode feeds
    straight into a combinable groupBy(b) so partial aggregation
    collapses each task to ≤100 rows; the CI is one exact-percentile
    pass over the 100-row resample frame. Fully replayed by the
    DuckDB oracle (same hash, same inverse-CDF thresholds, same
    weighted means)."""
    from tablite_spark.operators.stats import bootstrap_ci
    o = _t(spark, sf, "orders")
    out = bootstrap_ci(o, "o_totalprice", "o_orderkey",
                       n_resamples=100, alpha=0.05)
    return out.select("n", F.round(F.col("estimate"), 4)
                      .alias("estimate"),
                      F.round(F.col("lo"), 4).alias("lo"),
                      F.round(F.col("hi"), 4).alias("hi"),
                      "n_resamples")


def active_users_events(spark: SparkSession, sf: str) -> DataFrame:
    """DAU/WAU/MAU + stickiness per day via the explode-window
    trick: distinct (user, day) pairs (bounded by users×days), ≤28
    row-local copies each, ONE count-distinct groupBy per day —
    never a distinct-over-sliding-window. Counts are exact
    integers; stickiness an exact ratio (unrounded). Oracle: the
    same explode in DuckDB."""
    from tablite_spark.operators.timeseries import active_users
    ev = _t(spark, sf, "events")
    return active_users(ev, "ts", "user_id", windows=(1, 7, 28))


def category_index_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic frequency-ordered label indexing of order
    status+priority: vocab-bounded census windows, broadcast join
    back; indices are exact integers. Oracle: the same
    (count DESC, value) ranking in DuckDB."""
    from tablite_spark.pipeline.features import category_index
    o = _t(spark, sf, "orders")
    out = category_index(o, ["o_orderstatus", "o_orderpriority"])
    return (out.groupBy("o_orderstatus", "o_orderstatus_idx",
                        "o_orderpriority", "o_orderpriority_idx")
            .agg(F.count(F.lit(1)).alias("n")))


def quantile_discretize_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-frequency discretization of lineitem measures: one
    array-percentile fit for both columns, row-local bucket
    expressions (no join); bucket populations returned as the
    check. Oracle: the same quantile edges + bucket counting in
    DuckDB."""
    from tablite_spark.pipeline.features import quantile_discretize
    li = _t(spark, sf, "lineitem")
    out = quantile_discretize(li, ["l_extendedprice", "l_quantity"],
                              bins=10)
    return (out.groupBy("l_extendedprice_bin", "l_quantity_bin")
            .agg(F.count(F.lit(1)).alias("n")))


def spearman_corr_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Spearman rank correlation over lineitem measures: tie-average
    ranks via a DISTRIBUTED prefix sum (deterministic range buckets +
    in-bucket running sums + |buckets|-row driver offsets — never a
    global-order window), then one guarded Pearson-on-ranks agg.
    Oracle: DuckDB rank() + tie-count average ranks and corr()."""
    from tablite_spark.operators.stats import spearman_corr
    li = _t(spark, sf, "lineitem")
    out = spearman_corr(li, ["l_quantity", "l_extendedprice",
                             "l_discount"])
    return out.select("col_a", "col_b", "n",
                      F.round(F.col("rho"), 4).alias("rho"))


def fuzzy_join_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance self-join of customer names at d=1 via PassJoin
    segment blocking (`operators/fuzzy.py`): explode to (length,
    segment, text) keys -> equi join -> levenshtein verify — never a
    cross join (plan-gated), no false negatives (pigeonhole). The
    18-char names share a 9-char prefix, the adversarial hot-key
    shape; the oracle recomputes ground truth with a brute-force
    DuckDB cross join, so ANY candidate miss mismatches."""
    from tablite_spark.operators.fuzzy import fuzzy_join
    c = _t(spark, sf, "customer")
    out = fuzzy_join(c, c, "c_name", "c_name", max_distance=1,
                     left_id="c_custkey", right_id="c_custkey")
    return (out.filter(F.col("l_id") < F.col("r_id"))
            .select(F.col("l_id").cast("long").alias("l_id"),
                    F.col("r_id").cast("long").alias("r_id"),
                    F.col("dist").cast("int").alias("dist")))


def bpe_train_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE vocabulary training (`bpe.train_bpe_distributed`
    — corpus-wide word census then one combinable pair-count groupBy +
    one argmax row + a row-local merge fold per round, word table
    localCheckpoint-pinned with deterministic release). Fixture is
    derived-invariant: three single-word doc classes whose merge
    sequence is closed-form, INCLUDING a second-round merge ('a'+'ab')
    whose pair only exists because round 1 created it — the oracle
    replays the counts from the band definition; the interacting
    semantics are additionally pinned against the serial `train_bpe`
    in pytest."""
    from tablite_spark.pipeline.bpe import train_bpe_distributed
    d = _t(spark, sf, "documents")
    fixture = d.select(
        F.when(F.col("doc_id") % 10 < 5, F.lit("aab"))
         .when(F.col("doc_id") % 10 < 8, F.lit("cd"))
         .otherwise(F.lit("pqrs")).alias("text"))
    return train_bpe_distributed(fixture, "text", 3)


def retention_cohorts_events(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention matrix over the events table: users
    cohorted by the epoch-aligned week of their first event; each
    (cohort, period) counts distinct users active that many weeks
    later. One combinable min groupBy(user) + a user-keyed join + one
    count_distinct groupBy — no windows, no per-user sequence state
    (a hot cohort never funnels into one task)."""
    from tablite_spark.operators.timeseries import retention_cohorts
    out = retention_cohorts(_t(spark, sf, "events"), "ts", "user_id",
                            "1 week")
    return out.select(F.col("cohort_start").cast("timestamp")
                      .alias("cohort_start"),
                      "period", "n_users")


def batched_topk_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-k via the BLAS-batched kernel
    (`similarity.batched_topk`): one numpy matmul per (arrow batch,
    query block) + boundary-tie-complete per-batch candidate cut +
    the salted two-phase rank — byte-identical contract to
    brute_force_topk but ~100x past 10^8 query-corpus pairs, where
    the pair-materializing catalyst join hits its quadratic wall.
    Distinct query set / k from embedding_topk so the two rows verify
    the two paths independently."""
    from tablite_spark.pipeline.similarity import batched_topk
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 10))
    return batched_topk(emb, queries_df, k=7,
                        id_col="vec_id", vec_col="embedding")


def token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish regex token counting (word pieces + digits + punct)."""
    from tablite_spark.pipeline.text import token_count
    d = _t(spark, sf, "documents")
    return token_count(d, "text", mode="bpe_ish").select("doc_id", "n_tokens")


def language_id_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-marker language heuristic; argmax over per-language
    marker counts (ties → lexicographically-largest language)."""
    from tablite_spark.pipeline.text import language_id
    d = _t(spark, sf, "documents")
    return language_id(d, "text").select("doc_id", "lang_pred")


def ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Exact token-3-gram Jaccard on a restricted pair set."""
    from tablite_spark.pipeline.dedup import ngram_jaccard
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 40)
    j = ngram_jaccard(d, d, "text", "doc_id", n=3)
    return j.select("id_a", "id_b", F.round(F.col("jaccard"), 4).alias("jaccard"))


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive near-dup clustering: exact n-gram-Jaccard pairs →
    connected components (hash-min label propagation,
    pipeline/dedup.py:connected_components) → every doc labeled with
    the min doc_id of its duplicate cluster (singletons label
    themselves). Oracle reproduces the propagation with a recursive
    CTE — an exact cross-engine check of an iterative graph op."""
    from tablite_spark.pipeline.dedup import connected_components, ngram_jaccard
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    pairs = (ngram_jaccard(d, d, "text", "doc_id", n=3)
             .filter(F.col("jaccard") >= 0.2))
    cc = connected_components(pairs)
    return (d.select("doc_id")
            .join(cc.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", "doc_id").alias("component")))


def cluster_dedup_keep_best_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Keep-BEST cluster dedup (dedup.cluster_dedup_keep_best —
    production curation keeps the highest-quality member of each
    near-dup cluster, not the min id). Derived-invariant fixture:
    pairwise-token-disjoint base docs (ids 0..59) gain exact
    duplicates at +100 (id%3==0) and +200 (id%5==0), so the true
    clusters are exactly {i} ∪ {i+100}? ∪ {i+200}? and Jaccard pairs
    exist only inside them. Quality (doc_id*7)%13 varies WITHIN a
    cluster (7 and 13 coprime), so the argmax winner is usually NOT
    the min id — keep-min-id would hash-mismatch. DuckDB reproduces
    the winner set arithmetically."""
    from tablite_spark.pipeline.dedup import (
        cluster_dedup_keep_best, ngram_jaccard,
    )
    ids = _t(spark, sf, "documents").select("doc_id") \
        .filter(F.col("doc_id") < 60)
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), F.lit(30)),
        lambda j: F.concat(F.lit("tok"),
                           (F.col("doc_id") * 1000 + j).cast("string"))))
    base = ids.select("doc_id", text.alias("text"))
    dup1 = (base.filter(F.col("doc_id") % 3 == 0)
            .select((F.col("doc_id") + 100).alias("doc_id"), "text"))
    dup2 = (base.filter(F.col("doc_id") % 5 == 0)
            .select((F.col("doc_id") + 200).alias("doc_id"), "text"))
    corpus = (base.unionByName(dup1).unionByName(dup2)
              .withColumn("quality", (F.col("doc_id") * 7) % 13))
    pairs = (ngram_jaccard(corpus, corpus, "text", "doc_id", n=3)
             .filter(F.col("jaccard") >= 0.2))
    out = cluster_dedup_keep_best(corpus, pairs, "doc_id", "quality")
    return out.select("doc_id", "quality")


def near_dup_embeddings(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4), via the
    block-nested-loop BLAS kernel (exact; equivalence with the
    per-pair expression path is tested)."""
    from tablite_spark.pipeline.similarity import embedding_near_dup_blocked
    emb = _t(spark, sf, "embeddings")
    return embedding_near_dup_blocked(emb, "vec_id", "embedding", threshold=0.4)


def multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Binary media column + mapInPandas decode (deterministic fake
    decoder — the Spark plumbing is the real artifact)."""
    from tablite_spark.pipeline.multimodal import attach_media, decode_images
    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    m = attach_media(d, "payload", "image/fake").drop("payload")
    return decode_images(m).select("doc_id", "width", "height")


def media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Byte-histogram 'embedding' via mapInPandas (Arrow-batched);
    deterministic stand-in for a real feature extractor."""
    from tablite_spark.pipeline.multimodal import attach_media, extract_image_features
    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    m = attach_media(d, "payload", "image/fake").drop("payload")
    feats = extract_image_features(m, dim=8)
    return feats.select(
        "doc_id",
        F.round(F.element_at("features", 1).cast("double"), 4).alias("f0"),
        F.round(F.element_at("features", 8).cast("double"), 4).alias("f7"))


