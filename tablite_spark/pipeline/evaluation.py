"""Distributed model-evaluation metrics over 100 TB of scored rows.

Beyond the reference (tablite has no ML-evaluation surface): the
quality-classifier companion — exact AUC, calibration bins, and
threshold confusion metrics, none of which may sort the corpus
globally or collect per-row scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin


def binary_auc(df: DataFrame, score_col: str, label_col) -> DataFrame:
    """EXACT ROC-AUC of a binary classifier over scored rows, via the
    tie-aware Mann-Whitney rank-sum identity:

        AUC = (Σ_{y=1} avgrank(score) - n_pos(n_pos+1)/2)
              / (n_pos · n_neg)

    Ties get average ranks, so AUC equals the probability a random
    positive outranks a random negative counting ties as 1/2 — the
    textbook definition. Returns ONE row (n_pos, n_neg, auc); raises
    when either class is empty. ``label_col`` may be a column name or
    a boolean Column expression.

    Scale shape — the textbook trap is ``rank() OVER (ORDER BY
    score)``: a GLOBAL-order window that serializes the corpus
    through one task. Like :func:`~tablite_spark.operators.stats.
    spearman_corr`: one combinable per-score census groupBy (count +
    positive count per distinct score), a DISTRIBUTED prefix sum
    over score order (``buckets.prefix_sums``, whose totals are
    n_pos/n_neg), then the rank-sum is ONE aggregate over the
    census. Average ranks are half-integers (exactly representable),
    so the rank-sum is EXACT in double up to ~2^53 (≈9e15 — beyond
    that the sum rounds; note for 10T-row corpora).
    """
    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    s = F.col(score_col).cast("double")
    y = (F.col(label_col) if isinstance(label_col, str)
         else label_col).cast("boolean")
    cens = (df.filter(s.isNotNull() & y.isNotNull())
            .groupBy(s.alias("__s__"))
            .agg(F.count(F.lit(1)).alias("__c__"),
                 F.count(F.when(y, 1)).alias("__p__")))
    cens, totals = prefix_sums(
        with_range_bucket(pin(cens, eager=True), "__s__", "__b__"),
        "__b__", ["__s__"], {"__cum__": F.col("__c__"),
                             "__cump__": F.col("__p__")})
    n_pos = totals["__cump__"]
    n_neg = totals["__cum__"] - n_pos
    if n_pos == 0 or n_neg == 0:
        raise ValueError("binary_auc needs both classes present "
                         f"(n_pos={n_pos}, n_neg={n_neg})")
    avg_rank = (F.col("__cum__") - F.col("__c__")
                + (F.col("__c__") + 1) / 2.0)
    spr = cens.agg(F.sum(avg_rank * F.col("__p__"))
                   .alias("__spr__"))
    # n_pos(n_pos+1)/2 in python ints (exact, no 64-bit overflow),
    # then the one double division
    base = float(n_pos * (n_pos + 1) / 2)
    auc = (F.col("__spr__") - F.lit(base)) \
        / F.lit(float(n_pos) * float(n_neg))
    return spr.select(F.lit(n_pos).cast("long").alias("n_pos"),
                      F.lit(n_neg).cast("long").alias("n_neg"),
                      auc.alias("auc"))


def calibration_bins(df: DataFrame, score_col: str, label_col,
                     bins: int = 10) -> DataFrame:
    """Reliability diagram: scores in [0, 1] bucket into ``bins``
    fixed-width bins (score 1.0 folds into the top bin); per
    non-empty bin: (bin, n, mean_score, frac_pos). A calibrated
    model has frac_pos ≈ mean_score per bin. Rows with NULL score or
    label are excluded; out-of-[0,1] scores raise (a score that
    isn't a probability has no reliability reading).

    Scale shape: the bin is a pure row-local expression, so the
    corpus collapses in ONE combinable ``bins``-bucket groupBy —
    nothing else moves.
    """
    if bins < 2:
        raise ValueError("calibration_bins needs bins >= 2")
    s = F.col(score_col).cast("double")
    y = (F.col(label_col) if isinstance(label_col, str)
         else label_col).cast("boolean")
    base = df.filter(s.isNotNull() & y.isNotNull())
    oob = base.filter((s < 0) | (s > 1)).limit(1).collect()
    if oob:
        raise ValueError(
            f"calibration_bins: score outside [0, 1] — {score_col} "
            f"is not a probability")
    b = F.least(F.floor(s * bins), F.lit(bins - 1)).cast("int")
    return (base.groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg(s).alias("mean_score"),
                 (F.count(F.when(y, 1))
                  / F.count(F.lit(1)).cast("double"))
                 .alias("frac_pos"))
            .orderBy("bin"))


def confusion_metrics(df: DataFrame, score_col: str, label_col,
                      threshold: float = 0.5) -> DataFrame:
    """Threshold confusion counts + derived metrics in ONE
    combinable aggregation: (tp, fp, tn, fn, accuracy, precision,
    recall, f1). Predicted positive = score >= threshold. Degenerate
    denominators (no predicted positives / no actual positives)
    yield NULL precision/recall/f1, never a division error (the
    ANSI discipline). NULL score or label rows are excluded.
    """
    s = F.col(score_col).cast("double")
    y = (F.col(label_col) if isinstance(label_col, str)
         else label_col).cast("boolean")
    pred = s >= F.lit(float(threshold))
    base = df.filter(s.isNotNull() & y.isNotNull())
    one = base.agg(
        F.count(F.when(pred & y, 1)).alias("tp"),
        F.count(F.when(pred & ~y, 1)).alias("fp"),
        F.count(F.when(~pred & ~y, 1)).alias("tn"),
        F.count(F.when(~pred & y, 1)).alias("fn"))
    tp, fp = F.col("tp"), F.col("fp")
    tn, fn = F.col("tn"), F.col("fn")
    n = (tp + fp + tn + fn).cast("double")
    prec = F.when(tp + fp > 0, tp / (tp + fp).cast("double"))
    rec = F.when(tp + fn > 0, tp / (tp + fn).cast("double"))
    f1 = F.when(prec.isNotNull() & rec.isNotNull()
                & (prec + rec > 0),
                2.0 * prec * rec / (prec + rec))
    return one.select(
        "tp", "fp", "tn", "fn",
        F.when(n > 0, (tp + tn) / n).alias("accuracy"),
        prec.alias("precision"), rec.alias("recall"),
        f1.alias("f1"))


def isotonic_calibration(df: DataFrame, score_col: str,
                         label_col: str,
                         bins: int = 20) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of a
    [0,1] score against a boolean label — the standard
    pool-adjacent-violators (PAV) recalibration step after training
    a quality classifier. Scores bucket into ``bins`` fixed-width
    bins; the PAV fit is evaluated through the minimax closed form
    fitted(i) = max_{k<=i} min_{j>=i} mean(y over bins k..j), which
    on integer (pos, n) bin counts is a ratio of exact integers —
    bit-identical cross-engine, no iterative pooling loop to verify.
    Returns one row per non-empty bin:
    (bin, n, pos, rate, calibrated), calibrated non-decreasing.

    Scale shape: the corpus collapses in ONE combinable
    groupBy(bin) over the ≤``bins``-row census; the O(bins²)
    minimax runs as windows/joins over that census (bounded, never
    corpus-sized). No collect, no driver fit.
    """
    from pyspark.sql import Window
    if bins < 1:
        raise ValueError("bins must be >= 1")
    s = F.col(score_col)
    y = F.col(label_col).cast("boolean")
    b = F.least(F.floor(s * bins).cast("int"), F.lit(bins - 1))
    cens = (df.filter(s.isNotNull() & y.isNotNull()
                      & (s >= 0) & (s <= 1))
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(y, 1).otherwise(0)).alias("pos")))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    # census is <= bins rows: a single-task window here is the
    # CONTRACT (bounded), not a scale leak
    cum = (cens.withColumn("cn", F.sum("n").over(w))
           .withColumn("cp", F.sum("pos").over(w)))
    lo = cum.select(F.col("bin").alias("k"),
                    (F.col("cn") - F.col("n")).alias("cn_lo"),
                    (F.col("cp") - F.col("pos")).alias("cp_lo"))
    hi = cum.select(F.col("bin").alias("j"),
                    F.col("cn").alias("cn_hi"),
                    F.col("cp").alias("cp_hi"))
    # mean(y over k..j) for every k <= j pair of census bins
    seg = (lo.join(hi, F.col("k") <= F.col("j"))
           .select("k", "j",
                   ((F.col("cp_hi") - F.col("cp_lo"))
                    / (F.col("cn_hi") - F.col("cn_lo")))
                   .alias("seg_mean")))
    inner = (seg.join(cens.select(F.col("bin").alias("i")),
                      (F.col("k") <= F.col("i"))
                      & (F.col("i") <= F.col("j")))
             .groupBy("i", "k")
             .agg(F.min("seg_mean").alias("mn")))
    fit = (inner.groupBy(F.col("i").alias("bin"))
           .agg(F.max("mn").alias("calibrated")))
    return (cens.join(fit, "bin")
            .select("bin", "n", "pos",
                    (F.col("pos").cast("double") / F.col("n"))
                    .alias("rate"),
                    "calibrated"))


def ranking_metrics(df: DataFrame, query_col: str, id_col: str,
                    score_col: str, rel_col: str,
                    k: int = 10) -> DataFrame:
    """Retrieval-quality metrics over (query, candidate) rows:
    NDCG@k (graded relevance, log2 discount) and MRR@k (first
    relevant hit), averaged over queries with at least one relevant
    candidate. One row: (n_queries, ndcg, mrr). The deterministic
    rank order is (score DESC, id ASC) — ties never flap across
    engines. Beyond-reference: the evaluation twin of the BM25 /
    hybrid retrieval operators.

    Scale shape: both rankings are per-query windows — each query's
    candidate list serializes through one task BY CONTRACT (a
    candidate list is top-N bounded in any real evaluation; the
    corpus across queries stays fully parallel). One shuffle on
    query, one |queries|-row aggregate, one global reduce.
    """
    from pyspark.sql import Window
    if k < 1:
        raise ValueError("k must be >= 1")
    q, i = F.col(query_col), F.col(id_col)
    s, r = F.col(score_col), F.col(rel_col).cast("double")
    base = df.filter(q.isNotNull() & i.isNotNull()
                     & s.isNotNull() & r.isNotNull())
    wr = Window.partitionBy(q).orderBy(s.desc(), i.asc())
    wi = Window.partitionBy(q).orderBy(r.desc(), i.asc())
    ranked = (base.withColumn("__pos__", F.row_number().over(wr))
              .withColumn("__ipos__", F.row_number().over(wi)))
    disc = F.log2(F.col("__pos__") + 1.0)
    idisc = F.log2(F.col("__ipos__") + 1.0)
    per_q = (ranked.groupBy(q.alias("__q__")).agg(
        F.sum(F.when(F.col("__pos__") <= k, r / disc)
              .otherwise(0.0)).alias("__dcg__"),
        F.sum(F.when(F.col("__ipos__") <= k, r / idisc)
              .otherwise(0.0)).alias("__idcg__"),
        F.max(F.when((F.col("__pos__") <= k) & (r > 0),
                     1.0 / F.col("__pos__"))).alias("__rr__"),
        F.max(r).alias("__maxrel__")))
    scored = per_q.filter(F.col("__maxrel__") > 0)
    return scored.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.avg(F.col("__dcg__") / F.col("__idcg__")).alias("ndcg"),
        F.avg(F.coalesce(F.col("__rr__"), F.lit(0.0))).alias("mrr"))


def gains_table(df: DataFrame, score_col: str, label_col: str,
                deciles: int = 10, exact: bool = True,
                accuracy: int = 10000) -> DataFrame:
    """Cumulative gains / lift table: rank rows by score, split into
    ``deciles`` equal-frequency bands (exact quantile edges, ties
    collapse), and report per band the positives captured, the
    cumulative capture rate, and lift vs the base rate — the
    campaign-targeting / classifier-triage standard. One row per
    non-empty band: (band, n, pos, cum_pos, cum_capture, lift).

    Scale shape: one exact-percentile fit (broadcast edges), ONE
    combinable bucket groupBy (≤deciles rows), cumulative sums and
    rates over that bounded census only. The band cut is row-local;
    no corpus window, no second scan.
    """
    from pyspark.sql import Window
    if deciles < 2:
        raise ValueError("deciles must be >= 2")
    s = F.col(score_col)
    y = F.col(label_col).cast("boolean")
    base = df.filter(s.isNotNull() & y.isNotNull())
    qs = [i / deciles for i in range(1, deciles)]
    # exact=False: the bounded-sketch valve for corpus-scale scores
    pct = (F.percentile if exact
           else lambda c, q: F.percentile_approx(c, q,
                                                 F.lit(accuracy)))
    edges = (base.agg(pct(
        s, F.array(*[F.lit(q) for q in qs]))
        .alias("e")).collect()[0]["e"])
    if edges is None:
        raise ValueError("no scored rows")
    edges = sorted(set(edges))
    from tablite_spark.functions.buckets import bucket_expr
    k = len(edges) + 1
    cens = (base.select(
        (F.lit(k - 1) - bucket_expr(score_col, edges)).alias("band"),
        y.alias("__y__"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.col("__y__"), 1).otherwise(0))
             .alias("pos")))
    # census is <= deciles rows: the single-task window is bounded
    # by contract
    w = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = (cens.withColumn("cum_pos", F.sum("pos").over(w))
           .withColumn("cum_n", F.sum("n").over(w)))
    tot = cum.agg(F.max("cum_pos").alias("tp"),
                  F.max("cum_n").alias("tn"))
    out = cum.crossJoin(F.broadcast(tot))
    return out.select(
        "band", "n", "pos", "cum_pos",
        F.when(F.col("tp") > 0,
               F.col("cum_pos").cast("double") / F.col("tp"))
        .alias("cum_capture"),
        F.when((F.col("tp") > 0) & (F.col("cum_n") > 0),
               (F.col("cum_pos").cast("double") / F.col("cum_n"))
               / (F.col("tp").cast("double") / F.col("tn")))
        .alias("lift"))
