"""Deterministic range bucketing (functions/buckets.py) — the
cross-job-safe substitute for repartitionByRange that pack_sequences
and carry_forward build on."""

from pyspark.sql import functions as F

from tablite_spark.functions.buckets import (
    bucket_expr, range_bucket_bounds, with_range_bucket,
)


def test_bucket_assignment_deterministic_across_jobs(spark):
    """The same frame evaluated twice (different downstream plans,
    different partition layouts) assigns every row the same bucket —
    the property RangePartitioner lacks (its bound sampling is seeded
    by the RDD id)."""
    df = spark.range(100_000).select((F.col("id") * 7 % 91_000)
                                     .alias("k"))
    b = with_range_bucket(df, "k", "pid", n_buckets=32)
    a1 = {r["k"]: r["pid"] for r in b.collect()}
    a2 = {r["k"]: r["pid"] for r in
          b.repartition(17).collect()}
    assert a1 == a2


def test_bucket_monotone_and_balanced(spark):
    """Buckets are monotone in the key (every row of bucket p sorts
    before every row of bucket p+1) and roughly balanced on uniform
    data (quantile bounds)."""
    df = spark.range(50_000).select(F.col("id").alias("k"))
    b = with_range_bucket(df, "k", "pid", n_buckets=16)
    rows = (b.groupBy("pid").agg(F.min("k").alias("mn"),
                                 F.max("k").alias("mx"),
                                 F.count("*").alias("n")).collect())
    rows.sort(key=lambda r: r["pid"])
    for prev, cur in zip(rows, rows[1:]):
        assert prev["mx"] < cur["mn"]
    ns = [r["n"] for r in rows]
    assert max(ns) <= 3 * min(ns), ns


def test_bucket_nulls_and_strings(spark):
    """Null keys land in bucket 0; the non-numeric (seeded-sample)
    path buckets strings monotonically."""
    df = spark.createDataFrame(
        [(None,), ("apple",), ("banana",), ("cherry",), ("date",)]
        * 200, "k string")
    b = with_range_bucket(df, "k", "pid", n_buckets=4)
    got = {r["k"]: r["pid"] for r in b.distinct().collect()}
    assert got[None] == 0
    vals = [got[k] for k in ("apple", "banana", "cherry", "date")]
    assert vals == sorted(vals)


def test_bucket_expr_heavy_hitter_merges_not_splits(spark):
    """A heavy-hitter key collapses duplicate bounds — balance
    degrades, monotonicity and tie-cohesion never do (all rows of
    the hot key share one bucket)."""
    df = spark.range(10_000).select(
        F.when(F.col("id") % 2 == 0, 42).otherwise(F.col("id"))
        .alias("k"))
    bounds = range_bucket_bounds(df, "k", 8)
    assert bounds == sorted(set(bounds))
    b = df.withColumn("pid", bucket_expr("k", bounds))
    hot = b.filter(F.col("k") == 42).select("pid").distinct().count()
    assert hot == 1


def test_bucket_expr_binary_search_bit_parity(spark):
    """r15: bucket_expr became a balanced WHEN-tree binary search
    (codegen) — it must agree with the old interpreted
    count-of-bounds<=key aggregate on EVERY edge: nulls (bucket 0),
    NaN (top bucket — Spark orders NaN greatest), exact ties on
    bounds (>= semantics), values below/above all bounds, and every
    bounds size 1..17 (both tree parities)."""
    from pyspark.sql import Column

    def old_expr(key: str, bounds: list) -> Column:
        if not bounds:
            return F.lit(0)
        barr = F.array(*[F.lit(b) for b in bounds])
        return F.aggregate(
            barr, F.lit(0),
            lambda acc, b: acc + F.when(F.col(key) >= b, 1)
            .otherwise(0))

    vals = ([None, float("nan"), float("-inf"), float("inf"),
             -1e300, 0.0, 1e300]
            + [float(i) for i in range(-3, 40)]
            + [i + 0.5 for i in range(-3, 40)])
    df = spark.createDataFrame([(v,) for v in vals], "k double")
    for n in range(1, 18):
        bounds = [float(i * 2) for i in range(n)]  # 0, 2, 4, ...
        got = df.select(bucket_expr("k", bounds).alias("b")).collect()
        want = df.select(old_expr("k", bounds).alias("b")).collect()
        assert [r["b"] for r in got] == [r["b"] for r in want], n
    # string keys (the non-numeric sampled-bounds path) agree too
    sdf = spark.createDataFrame(
        [(None,), ("a",), ("b",), ("bb",), ("z",)], "k string")
    sb = ["b", "m"]
    got = sdf.select(bucket_expr("k", sb).alias("b")).collect()
    want = sdf.select(old_expr("k", sb).alias("b")).collect()
    assert [r["b"] for r in got] == [r["b"] for r in want]


def test_bucket_expr_no_interpreted_aggregate_in_plan(spark):
    """The r15 form must keep lambda higher-order functions out of
    the physical plan — the whole point is whole-stage codegen."""
    df = spark.range(100).select(F.col("id").cast("double").alias("k"))
    out = df.select(bucket_expr("k", [10.0, 20.0, 30.0]).alias("b"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "aggregate(" not in plan, plan
    assert "lambdafunction" not in plan.lower(), plan


def test_eager_pin_identical_rows_and_single_source_eval(spark):
    """An eager census pin returns byte-identical rows, and the census-prefix
    operators' FINAL plan reads the checkpoint instead of replaying
    the corpus scan (the r14 optimization: bounds pass + offsets
    collect + final aggregate each re-evaluated the census — the pin
    makes the corpus aggregation run exactly once)."""
    from tablite_spark.plans.lifecycle import pin
    df = spark.range(10_000).select(
        (F.col("id") % 997).alias("v"))
    cens = df.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    expect = {(r["v"], r["c"]) for r in cens.collect()}
    pinned = pin(cens, eager=True)
    got = {(r["v"], r["c"]) for r in pinned.collect()}
    assert got == expect
    # the pinned plan must not re-derive the aggregation
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan, plan


def test_census_prefix_operator_plan_reads_checkpoint(spark, tmp_path):
    """An operator on the census-prefix engine (cusum) over a real
    parquet scan: the returned frame's plan contains ZERO parquet
    scans — every job after the pin reads checkpoint blocks — and the
    values match the driver-side replay."""
    import math

    from tablite_spark.operators.timeseries import cusum_changepoint
    p = str(tmp_path / "series.parquet")
    vals = [(i, float((i * 37) % 101) + (50.0 if i >= 600 else 0.0))
            for i in range(1_000)]
    spark.createDataFrame(vals, "ts long, value double") \
        .write.parquet(p)
    out = cusum_changepoint(spark.read.parquet(p), "ts", "value")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan, plan
    row = out.collect()[0]
    # driver replay of the exact CUSUM recurrence
    mean = sum(v for _, v in vals) / len(vals)
    best = None
    s = 0.0
    for i, (ts, v) in enumerate(sorted(vals), start=1):
        s += v
        cus = s - mean * i
        key = (abs(cus), -i)
        if best is None or key > best[0]:
            best = (key, i, ts, cus)
    assert row["n"] == len(vals)
    assert row["cp_index"] == best[1]
    assert row["cp_at"] == best[2]
    assert math.isclose(row["cusum"], best[3], rel_tol=0, abs_tol=1e-9)
