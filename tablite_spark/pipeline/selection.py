"""Data Selection via Importance Resampling (DSIR) — pretraining-data
selection toward a target domain (public recipe: Xie et al. 2023,
arXiv:2302.03169, the method behind many "select web data that looks
like Wikipedia/books" pipelines; beyond the reference, which has no
corpus-selection surface).

Per document, the importance weight is ``log p_target(doc) -
log p_raw(doc)`` under bag-of-hashed-ngram unigram+bigram language
models: ``w(d) = Σ_g count_d(g) · λ(bucket(g))`` where ``λ(b) =
log p_target(b) − log p_raw(b)`` with add-1 smoothing over ``B``
hash buckets. High-weight docs look like the target distribution.

Spark-first plan, 100 TB shape:

1. Two distribution passes (target corpus, raw corpus): one scan each
   → row-local gram array → explode → combinable ``groupBy(bucket)``
   count. Partial aggregation collapses each task to ≤ B rows, so the
   shuffle is ~B × partitions rows regardless of corpus size.
2. The λ table is B rows — computed as one B-row frame and BROADCAST
   into the scoring pass.
3. Scoring pass: one more raw-corpus scan → explode → broadcast-join
   λ → combinable ``groupBy(doc)`` integer sum. Raw is scanned twice
   (stats, then apply) — inherent to any global-statistics-then-score
   operator, same shape as the quality classifier's GD passes.

Exactness / oracle: the bucket function is ``int(md5(gram)[:8], 16)
% B`` (hex-prefix of md5 — identical in Spark ``conv(substr(md5))``
and DuckDB ``('0x' || substr(md5))::UBIGINT``), and λ is quantized to
integer micronats (``floor(1e6·ln)``, the vocab_divergence /
perplexity_score discipline) so per-doc sums are order-independent
integers replayable by an independent SQL engine.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tablite_spark.functions.tokens import alnum_words, ngrams
from tablite_spark.operators.groupby import check_k, top_k_per_group
from tablite_spark.plans.lifecycle import pin

__all__ = ["dsir_weights", "dsir_select"]


def _gram_rows(df: DataFrame, text_col: str, keep: list[str]):
    """(keep..., g) — one row per unigram+bigram occurrence over
    ``tokens.alnum_words``, the tokenizer ``tfidf_keywords`` and
    ``jaccard_join`` also use, so corpus statistics line up across
    operators.

    The token array is materialized as a REAL column before the
    bigram ``transform`` references it: inlining the split+filter
    expression into the lambda makes Catalyst RE-TOKENIZE the whole
    text once per bigram element (no common-subexpression elimination
    inside higher-order functions) — measured 20 s for 5k docs at
    sf0.1; bound-attribute form is ~40×."""
    tk = F.col("__tk__")
    bi = F.when(F.size(tk) >= 2, ngrams(tk, 2)) \
        .otherwise(F.array().cast("array<string>"))
    return (df.select(*keep, alnum_words(F.col(text_col)).alias("__tk__"))
            .select(*keep, F.explode(F.concat(tk, bi)).alias("g")))


def _bucket(col, buckets: int):
    """First 8 hex chars of md5 as an integer, mod ``buckets`` —
    deterministic and reproducible in DuckDB as
    ``('0x' || substr(md5(g), 1, 8))::UBIGINT % buckets``."""
    return (F.conv(F.substring(F.md5(col), 1, 8), 16, 10)
            .cast("long") % buckets)


def _bucket_counts(df: DataFrame, text_col: str,
                   buckets: int) -> DataFrame:
    return (_gram_rows(df, text_col, [])
            .select(_bucket(F.col("g"), buckets).alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("c")))


def dsir_weights(raw: DataFrame, target: DataFrame, text_col: str,
                 id_col: str, buckets: int = 512) -> DataFrame:
    """Per-raw-document DSIR importance weight toward ``target``.

    Returns ``(id_col, n_grams, dsir_micro)`` where ``dsir_micro`` is
    the integer-micronat log importance weight (bigger = more
    target-like); docs with no grams weigh 0.
    """
    import math
    spark = raw.sparkSession
    # ONE pass per corpus: the bucket-count tables are <= `buckets`
    # rows by construction (contract-bounded collect — the λ model IS
    # a B-row table), so λ is computed driver-side instead of chaining
    # Catalyst re-computations of the count frames for totals + the
    # grid join (measured: the lazy formulation re-scanned the raw
    # corpus 3×; this shape scans raw twice total — stats + scoring —
    # which is the floor for any global-statistics-then-score op).
    if buckets > 1_000_000:
        raise ValueError("buckets > 1e6 breaks the driver-side λ "
                         "table contract; shard the feature space")
    # r14 optimization round (guide §8 — decide with small rows): the
    # raw corpus was tokenized + md5-hashed TWICE (bucket stats pass,
    # then the scoring pass). ONE per-(doc, bucket) census serves
    # both: the raw bucket counts are its bucket marginals, and the
    # per-doc score folds to Σ_b c(doc,b)·λ(b) — identical exact
    # integers either way (n_grams = Σ_b c). The census pins once
    # (≤ |docs|·buckets narrow rows — the lightweight proxy, 10-100×
    # smaller than the exploded gram rows it replaces).
    cens = pin(_gram_rows(raw, text_col, [id_col])
               .select(id_col, _bucket(F.col("g"), buckets).alias("b"))
               .groupBy(id_col, "b")
               .agg(F.count(F.lit(1)).alias("__c__")), eager=True)
    rc = {r["b"]: r["c"] for r in
          cens.groupBy("b").agg(F.sum("__c__").alias("c")).collect()}
    tc = {r["b"]: r["c"] for r in
          _bucket_counts(target, text_col, buckets).collect()}
    tr, tt = sum(rc.values()), sum(tc.values())
    lam_rows = [(b, math.floor(1e6 * (
        math.log((tc.get(b, 0) + 1) / (tt + buckets))
        - math.log((rc.get(b, 0) + 1) / (tr + buckets)))))
        for b in range(buckets)]
    lam = spark.createDataFrame(lam_rows, "b long, lam long")
    scored = (cens.join(F.broadcast(lam), "b")
              .groupBy(id_col)
              .agg(F.sum("__c__").alias("n_grams"),
                   F.sum(F.col("__c__") * F.col("lam"))
                   .alias("dsir_micro")))
    return (raw.select(id_col).join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.coalesce("dsir_micro", F.lit(0))
                    .alias("dsir_micro")))


def dsir_select(raw: DataFrame, target: DataFrame, text_col: str,
                id_col: str, k: int, buckets: int = 512) -> DataFrame:
    """The ``k`` most target-like raw docs by DSIR weight
    (deterministic rank: weight desc, id asc — the paper's Gumbel
    noise is for statistical de-duplication of the selection, not
    needed for a reproducible top-k). A global cut on the salted
    ``top_k_per_group``: no single-task sort of the corpus.
    """
    check_k(k)
    w = dsir_weights(raw, target, text_col, id_col, buckets)
    return (top_k_per_group(w, [], [F.col("dsir_micro").desc(),
                                    F.col(id_col).asc()],
                            k, engine="salted")
            .select(id_col, "n_grams", "dsir_micro", "rank"))
