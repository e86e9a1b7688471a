"""Skew-mitigation utilities — salting and the skew census.

AQE's skew-join splitting (enabled in the session factory) handles
most runtime skew; these helpers cover the cases AQE can't:
- ``salted_join``: explicit key salting for joins where one side has a
  few pathological hot keys (e.g. a null-heavy or power-law foreign
  key). The hot side gets a random salt in [0, n); the other side is
  exploded n ways; the join key becomes (key, salt), spreading each hot
  key over n reducers.

Bucketed persistence (co-located, shuffle-free joins) lives in
operators/bucketing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame,
                big_key: str, small_key: str,
                n_salts: int = 16, how: str = "inner") -> DataFrame:
    """Join with the big side's hot keys spread over ``n_salts``
    partitions. The small side is replicated n_salts× (explode of a
    literal range — cheap when small is genuinely smaller), so every
    (key, salt) bucket finds its match.

    Equivalent result to ``big.join(small, big[big_key]==small[small_key],
    how)`` for inner/left joins on non-null keys.
    """
    salted_big = big.withColumn(
        "__salt__", (F.rand(seed=42) * n_salts).cast("int"))
    salted_small = small.withColumn(
        "__salt__", F.explode(F.array(*[F.lit(i) for i in range(n_salts)])))
    cond = (salted_big[big_key] == salted_small[small_key]) & \
           (salted_big["__salt__"] == salted_small["__salt__"])
    return salted_big.join(salted_small, cond, how).drop("__salt__")


def skew_report(df: DataFrame, key_col: str,
                top_k: int = 20) -> DataFrame:
    """Join-planning skew profile of a key column: the top-``top_k``
    heaviest keys with counts/shares, plus the per-key-count
    distribution stats every row carries (n_rows, n_keys, p50/p99
    per-key counts, max count, skew_factor = max/p50) — the census a
    100 TB join plan needs BEFORE choosing between a plain hash
    join, ``salted_join``, or AQE skew splitting. All values exact:
    counts are integers, shares single integer divisions,
    percentiles the percentile_cont interpolation both engines
    share.

    Scale shape: ONE combinable groupBy(key) census (the shuffle
    carries one row per distinct key, partial-aggregated map-side);
    the census collapses to a 1-row distribution aggregate + a
    top-k limit — both bounded by |keys|, joined back by a 1-row
    broadcast. The corpus is scanned once.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    from pyspark.sql import Window
    census = (df.filter(F.col(key_col).isNotNull())
              .groupBy(F.col(key_col).alias("key"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    dist = census.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.expr("percentile(cnt, 0.5)").alias("p50_cnt"),
        F.expr("percentile(cnt, 0.99)").alias("p99_cnt"),
        F.max("cnt").alias("max_cnt"))
    # rank runs over the already-LIMITed top-k rows — a bounded
    # global window, the package's documented census exception
    top = (census.orderBy(F.col("cnt").desc(), "key").limit(top_k)
           .select("key", "cnt",
                   F.row_number().over(
                       Window.orderBy(F.col("cnt").desc(), "key"))
                   .alias("rank")))
    out = top.crossJoin(F.broadcast(dist))
    return out.select(
        "rank", F.col("key").cast("string").alias("key"), "cnt",
        (F.col("cnt") / F.col("n_rows").cast("double")).alias("share"),
        "n_rows", "n_keys", "p50_cnt", "p99_cnt", "max_cnt",
        (F.col("max_cnt") / F.col("p50_cnt")).alias("skew_factor"))
