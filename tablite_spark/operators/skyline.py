"""2-D skyline (Pareto frontier) on the census-prefix discipline.

A point (x, y) is ON the skyline iff no other point (x', y') has
x' <= x AND y' <= y with at least one strict (both axes minimized;
negate a column to maximize it). The naive answer is an O(n^2)
dominance anti-join; at corpus scale the right shape is the same
census + distributed-prefix engine every ranking operator here
uses (``functions/buckets.py``):

1. census: groupBy(x).min(y) — combinable, collapses the corpus to
   |distinct x| rows (any point above its x's min-y is dominated by
   the min at equal x).
2. strict-prefix min of y in x-order: deterministic range buckets
   on x + a per-bucket running min (windows only ever partition by
   the bounded bucket id, never a single global sort task) + ONE
   |buckets|-row offset collect folded into per-bucket carry-in
   minima.
3. survive iff carry-in strict-prefix min > y (an earlier-x point
   with y' <= y dominates; equal-x dominance was already resolved
   by the census min).

Everything is exact: callers pass integer-encoded axes (cents,
epoch days), so the frontier membership test never touches floats.
"""
from __future__ import annotations

import sys

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tablite_spark.functions.buckets import bucket_lookup, with_range_bucket
from tablite_spark.plans.lifecycle import pin


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Distinct Pareto-frontier points of ``df`` minimizing
    (``x_col``, ``y_col``) — rows (x, y), both exact as given.
    Null coordinates are excluded (a null axis is unrankable)."""
    pts = df.filter(F.col(x_col).isNotNull()
                    & F.col(y_col).isNotNull())
    cen = (pts.groupBy(x_col)
           .agg(F.min(y_col).alias(y_col)))
    cen = pin(cen, eager=True)
    cen = with_range_bucket(cen, x_col, "__pid__")
    # carry-in: min(y) over all STRICTLY EARLIER buckets (bucket
    # boundaries are monotone in x, ties never split) — the
    # running-MIN variant of ``prefix_sums``
    carry = _min_offsets(cen, "__pid__", y_col)
    w = (Window.partitionBy("__pid__").orderBy(x_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = cen.withColumn("__pm__", F.min(y_col).over(w)) \
                .withColumn("__carry__", carry)
    prefix = F.least(F.coalesce(F.col("__pm__"),
                                F.lit(sys.maxsize)),
                     F.coalesce(F.col("__carry__"),
                                F.lit(sys.maxsize)))
    return (ranked.filter(prefix > F.col(y_col))
            .select(x_col, y_col))


def _min_offsets(cen: DataFrame, bucket_col: str, y_col: str):
    """Column: min(y) over every EARLIER bucket, null for the first
    bucket and on an empty census.
    :func:`~tablite_spark.functions.buckets.prefix_sums` folds sums,
    so the running-MIN variant lives here: one |buckets|-row collect
    read back through the same
    :func:`~tablite_spark.functions.buckets.bucket_lookup`."""
    per_bucket = cen.groupBy(bucket_col).agg(F.min(y_col).alias("m"))
    rows = {r[bucket_col]: r["m"] for r in per_bucket.collect()}
    offsets, run = [], None
    for b in range(max(rows, default=-1) + 1):
        offsets.append(run)
        if b in rows:
            run = rows[b] if run is None else min(run, rows[b])
    return bucket_lookup(offsets, per_bucket.schema["m"].dataType,
                         bucket_col)
