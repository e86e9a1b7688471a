"""Groupby semantics vs reference fixture F3
(tests/test_groupby_and_pivot.py:14-85): all 12 accumulators, output
naming `Fn(col)`, keys-only = distinct, pivot, melt, transpose."""

import math

import pytest
from pyspark.sql import functions as F

from tablite_spark.operators.groupby import (
    GroupBy, groupby, melt, pivot, transpose,
)
from tablite_spark.operators.stats import histogram


@pytest.fixture()
def abc(spark):
    """F3: a..e = [0,1,2,3,4]; f = a+b+c+1; g = b*c*d; doubled."""
    base = [(i, i, i, i, i) for i in range(5)]
    df = spark.createDataFrame(base * 2, "a int, b int, c int, d int, e int")
    return (df.withColumn("f", F.col("a") + F.col("b") + F.col("c") + 1)
            .withColumn("g", F.col("b") * F.col("c") * F.col("d")))


def test_all_accumulators(abc):
    out = groupby(abc, ["a", "b"], [
        ("f", GroupBy.max), ("f", GroupBy.min), ("f", GroupBy.sum),
        ("f", GroupBy.product), ("f", GroupBy.first), ("f", GroupBy.last),
        ("f", GroupBy.count), ("f", GroupBy.count_unique),
        ("f", GroupBy.avg), ("f", GroupBy.stdev),
        ("a", GroupBy.stdev), ("f", GroupBy.median),
        ("g", GroupBy.median), ("f", GroupBy.mode),
    ])
    assert out.columns == [
        "a", "b", "Max(f)", "Min(f)", "Sum(f)", "Product(f)", "First(f)",
        "Last(f)", "Count(f)", "CountUnique(f)", "Average(f)",
        "StandardDeviation(f)", "StandardDeviation(a)", "Median(f)",
        "Median(g)", "Mode(f)",
    ]
    rows = {(r["a"], r["b"]): r for r in out.collect()}
    # group (2,2): f = 2+2+2+1 = 7 twice; g = 8 twice
    r = rows[(2, 2)]
    assert r["Max(f)"] == 7 and r["Min(f)"] == 7
    assert r["Sum(f)"] == 14
    assert r["Product(f)"] == 49.0
    assert r["Count(f)"] == 2 and r["CountUnique(f)"] == 1
    assert r["Average(f)"] == 7.0
    assert r["StandardDeviation(f)"] == 0.0
    assert r["Median(f)"] == 7.0 and r["Median(g)"] == 8.0
    assert r["Mode(f)"] == 7


def test_keys_only_distinct(abc):
    out = groupby(abc, ["a", "b"], [])
    assert out.count() == 5  # doubled rows collapse


def test_groupby_no_keys(abc):
    out = groupby(abc, [], [("f", GroupBy.sum)])
    assert out.collect()[0]["Sum(f)"] == sum((i * 3 + 1) for i in range(5)) * 2


def test_median_even_count(spark):
    df = spark.createDataFrame([(1,), (2,), (3,), (4,)], "x int")
    out = groupby(df, [], [("x", GroupBy.median)])
    assert out.collect()[0]["Median(x)"] == 2.5


def test_stdev_sample(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x int")
    out = groupby(df, [], [("x", GroupBy.stdev)]).collect()[0]
    assert math.isclose(out["StandardDeviation(x)"], 1.0)


def test_pivot_wide(spark):
    df = spark.createDataFrame(
        [("r1", "x", 1), ("r1", "y", 2), ("r2", "x", 3)],
        "r string, c string, v int")
    out = pivot(df, ["r"], ["c"], [("v", GroupBy.sum)])
    rows = {r["r"]: r for r in out.collect()}
    assert rows["r1"]["c=x"] == 1 and rows["r1"]["c=y"] == 2
    assert rows["r2"]["c=y"] is None  # sparse cell → null


def test_pivot_values_as_rows(spark):
    df = spark.createDataFrame(
        [("r1", "x", 1), ("r2", "y", 2)], "r string, c string, v int")
    out = pivot(df, ["r"], ["c"], [("v", GroupBy.sum)], values_as_rows=True)
    assert set(out.columns) == {"r", "function", "value"}


def test_melt(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id int, x double, y double")
    out = melt(df, ids=["id"], values=["x", "y"])
    assert out.columns == ["id", "transpose", "value"]
    assert out.count() == 2


def test_transpose(spark):
    df = spark.createDataFrame([("r1", 1, 2), ("r2", 3, 4)], "k string, a int, b int")
    out = transpose(df)
    assert out.columns == ["k", "r1", "r2"]
    rows = {r["k"]: (r["r1"], r["r2"]) for r in out.collect()}
    assert rows["a"] == (1, 3) and rows["b"] == (2, 4)


def test_histogram(spark):
    df = spark.createDataFrame([(1,), (1,), (2,)], "x int")
    out = {r["x"]: r["count"] for r in histogram(df, "x").collect()}
    assert out == {1: 2, 2: 1}
