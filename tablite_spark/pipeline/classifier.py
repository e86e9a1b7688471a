"""Distributed quality classifier — logistic regression by
full-batch gradient descent, Spark-first and exactly replayable.

The modern pretraining pipeline gates documents with a learned
quality classifier (fasttext-style linear models over cheap
features — cf. GPT-3/LLaMA data curation; public recipe). This
implements the linear model natively on DataFrames:

- ``logreg_train``: each iteration is ONE aggregation job (map-side
  partial sums of per-row gradient contributions — k features → a
  k+1-vector, nothing else crosses the network); the driver applies
  the update. The feature frame should be cached by the caller for
  multi-iteration reuse; at 100 TB the per-iteration cost is a scan
  of the (narrow) feature columns only.
- ``logreg_predict``: a pure codegen expression (dot product +
  sigmoid) — filtering by classifier score adds ZERO shuffles to a
  pipeline.

DETERMINISM CONTRACT: float summation order varies with
partitioning, so raw gradients can differ in the last ulps between
runs (and between engines). Each gradient component is therefore
rounded to ``grad_decimals`` before the update — far above
summation noise (~1e-13 relative for corpus-scale sums), far below
anything that affects learning — which makes the ENTIRE training
trajectory bit-reproducible and independently replayable: the
``quality_classifier_docs`` oracle unrolls every iteration as DuckDB
CTEs and reproduces the exact weights and predictions.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tablite_spark.functions.tokens import nonempty, words
from tablite_spark.plans.hints import respread
from tablite_spark.plans.lifecycle import pinned


def _sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def logreg_train(df: DataFrame, feature_cols: list[str],
                 label_col: str, lr: float = 0.5, iters: int = 10,
                 grad_decimals: int = 6) -> list[float]:
    """Train by full-batch GD; returns ``[w_1..w_k, bias]``.

    ``lr`` should be an exactly-representable binary fraction (0.5,
    0.25, …) so weight updates introduce no decimal drift on top of
    the rounded gradients."""
    k = len(feature_cols)
    w = [0.0] * k
    b = 0.0
    n_row = df.count()
    if n_row == 0:
        return w + [b]
    n = float(n_row)
    # r14 optimization round (guide §2.2 per-task overhead): every
    # iteration is one tiny agg job, so its cost is task scheduling,
    # not compute — a 4 MB feature frame spread over 32 cached
    # partitions pays 32 task launches × iters for partial sums of a
    # few doubles. Size the iteration frame from REAL numbers (n_row
    # is already in hand): ~one partition per 4 MB of narrow feature
    # rows, capped at defaultParallelism so corpus-scale frames keep
    # their full width. coalesce over the caller's cache is a narrow
    # read of cached blocks — nothing is recomputed or re-pinned.
    spark = df.sparkSession
    target = max(1, min(spark.sparkContext.defaultParallelism,
                        (n_row * (k + 2) * 8 + (4 << 20) - 1)
                        // (4 << 20)))
    work = df.select(label_col, *feature_cols)
    if work.rdd.getNumPartitions() > 2 * target:
        work = work.coalesce(target)
    df = work
    y = F.col(label_col).cast("double")
    for _ in range(iters):
        z = F.lit(b)
        for j, c in enumerate(feature_cols):
            z = z + F.lit(w[j]) * F.col(c)
        err = _sigmoid(z) - y
        aggs = [F.sum(err * F.col(c)).alias(f"g{j}")
                for j, c in enumerate(feature_cols)]
        aggs.append(F.sum(err).alias("gb"))
        row = df.agg(*aggs).first()
        for j in range(k):
            w[j] -= lr * round(float(row[f"g{j}"]) / n, grad_decimals)
        b -= lr * round(float(row["gb"]) / n, grad_decimals)
    return w + [b]


def logreg_predict(df: DataFrame, feature_cols: list[str],
                   weights: list[float],
                   prob_col: str = "prob",
                   pred_col: str = "pred") -> DataFrame:
    """Attach probability + 0.5-threshold prediction columns — pure
    expressions, zero shuffles."""
    *w, b = weights
    z = F.lit(b)
    for j, c in enumerate(feature_cols):
        z = z + F.lit(w[j]) * F.col(c)
    p = _sigmoid(z)
    return df.withColumn(prob_col, p).withColumn(
        pred_col, (p >= 0.5).cast("int"))


def doc_quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Cheap, EXACTLY-replayable per-document features (integer
    counts scaled by constants — identical in any engine): words/100,
    lines/10, chars/1000, distinct-words/100."""
    # r14 optimization round (guide §2.5 input skew): a small corpus
    # arrives as ONE parquet split, so the regex/array feature pass —
    # the expensive part of this operator — ran single-task (measured
    # 5 s of the 8 s classifier query at sf0.1). Spread under-
    # partitioned input across the cores; at corpus scale the scan is
    # already wide and this no-ops.
    df = respread(df)
    c = F.col(text_col)
    ws = nonempty(words(c))
    return (df
            .withColumn("f_words", F.size(ws) / F.lit(100.0))
            .withColumn("f_lines",
                        F.size(F.split(c, "\n")) / F.lit(10.0))
            .withColumn("f_chars", F.length(c) / F.lit(1000.0))
            .withColumn("f_vocab",
                        F.size(F.array_distinct(ws)) / F.lit(100.0)))


def train_quality_classifier(docs: DataFrame, text_col: str,
                             label_col: str, lr: float = 0.5,
                             iters: int = 10) -> tuple[list[float],
                                                       list[str]]:
    """Feature-extract + train in one call; returns (weights,
    feature_cols) for :func:`logreg_predict` on any corpus."""
    feats = ["f_words", "f_lines", "f_chars", "f_vocab"]
    with pinned(doc_quality_features(docs, text_col).select(
            *feats, label_col), eager=False) as fdf:
        wts = logreg_train(fdf, feats, label_col, lr=lr, iters=iters)
    return wts, feats


def sigmoid(z: float) -> float:
    """Driver-side sigmoid twin (tests)."""
    return 1.0 / (1.0 + math.exp(-z))
