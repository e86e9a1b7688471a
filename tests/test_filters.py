"""Filter semantics vs the reference fixture F4 (tests/test_filter.py
in the reference): twin pass/fail output, dict/string equivalence,
substring-`in`."""

import pytest
from pyspark.sql import functions as F

from tablite_spark import Table
from tablite_spark.operators.filters import (
    any_all, drop_rows_with, filter_pass_fail, mask_from_string,
    normalize_expression,
)


@pytest.fixture()
def ab(spark):
    return spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "a int, b int")


def test_filter_twin_output(ab):
    t, f = filter_pass_fail(ab, [
        {"column1": "a", "criteria": ">=", "value2": 3},
        {"column1": "b", "criteria": "<=", "value2": 20},
    ], "all")
    assert t.count() + f.count() == ab.count()
    assert t.count() == 0  # no row has a>=3 AND b<=20


def test_filter_forms_agree(ab):
    exprs = [
        {"column1": "a", "criteria": ">=", "value2": 3},
        {"column1": "b", "criteria": "<=", "value2": 20},
    ]
    t1, _ = filter_pass_fail(ab, exprs, "all")
    t2, _ = filter_pass_fail(ab, "all((a>=3, b<=20))")
    t3, _ = filter_pass_fail(ab, "a>=3 and b<=20")
    assert t1.collect() == t2.collect() == t3.collect()


def test_filter_any(ab):
    t, f = filter_pass_fail(ab, [
        {"column1": "a", "criteria": ">=", "value2": 3},
        {"column1": "b", "criteria": "<=", "value2": 20},
    ], "any")
    assert t.count() == 4
    assert f.count() == 0


def test_column_vs_column(ab):
    df = ab.withColumn("c", F.col("b") - 25)
    t, _ = filter_pass_fail(df, [
        {"column1": "a", "criteria": ">", "column2": "c"}], "all")
    # a > b-25: (1,10,-15)T (2,20,-5)T (3,30,5)F (4,40,15)F
    assert sorted(r["a"] for r in t.collect()) == [1, 2]


def test_substring_in(spark):
    """`in` = substring containment (tablite/mp_utils.py:13-18):
    '1' in '12' is True."""
    df = spark.createDataFrame([("12",), ("34",), ("1",)], "s string")
    t, _ = filter_pass_fail(df, [
        {"value1": "1", "criteria": "in", "column2": "s"}], "all")
    assert sorted(r["s"] for r in t.collect()) == ["1", "12"]


def test_normalize_expression():
    assert normalize_expression("all((a>=3, b<=20))") == "(a>=3) AND (b<=20)"
    assert normalize_expression("any((a>1, b>2))") == "(a>1) OR (b>2)"
    assert normalize_expression("a>=3 and b<=20") == "a>=3 and b<=20"


def test_any_all_callable(ab):
    out = any_all(ab, {"a": lambda x: x % 2 == 0}, "all")
    assert sorted(r["a"] for r in out.collect()) == [2, 4]


def test_drop_rows_type_strict(spark):
    df = spark.createDataFrame([(1, "R"), (2, "x"), (44, "y")], "n int, s string")
    out = drop_rows_with(df, "R", 44)
    assert sorted(r["n"] for r in out.collect()) == [2]


def test_drop_rows_none(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b"), (3, None)], "n int, s string")
    out = drop_rows_with(df, None)
    assert out.count() == 1


def test_table_facade_filter(spark):
    t = Table(spark.createDataFrame([(1, 10), (2, 20)], "a int, b int"))
    tr, fa = t.filter([{"column1": "a", "criteria": "==", "value2": 1}])
    assert len(tr) == 1 and len(fa) == 1


def test_merge_where(spark):
    """CASE merge drops both source columns (tablite/merge.py:7-50)."""
    from tablite_spark.operators.merge import merge_where
    df = spark.createDataFrame(
        [(1, "l1", "r1"), (2, "l2", "r2"), (3, "l3", "r3")],
        "k int, lft string, rgt string")
    out = merge_where(df, "lft", "rgt", "m", F.col("k") <= 2)
    assert out.columns == ["k", "m"]
    rows = {r["k"]: r["m"] for r in out.collect()}
    assert rows == {1: "l1", 2: "l2", 3: "r3"}


def test_nearest_neighbour_tiebreak(spark):
    """Equidistant donors resolve by the tiebreak column ascending."""
    from tablite_spark.operators.imputation import nearest_neighbour
    df = spark.createDataFrame(
        [(1, 100.0), (2, None), (3, 300.0)], "k int, v double")
    out = nearest_neighbour(df, ["v"], ["k"], tiebreak=["k"])
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows[2] == 100.0  # k=1 and k=3 tie at distance 1; min k wins


def test_expression_nested_commas(spark):
    """all((f(a,b)>1, c<2)) must split only on top-level commas."""
    from tablite_spark.operators.filters import normalize_expression
    got = normalize_expression("all((greatest(a, b) > 1, c < 2))")
    assert got == "(greatest(a, b) > 1) AND (c < 2)"
    df = spark.createDataFrame([(5, 0, 1), (0, 0, 1), (5, 0, 9)], "a int, b int, c int")
    out = df.filter(mask_from_string("all((greatest(a, b) > 1, c < 2))"))
    assert out.count() == 1


def test_expression_python_fallback(spark):
    """Python-only syntax (** operator, builtins) that Spark SQL can't
    parse falls back to the AST-compiled pandas-UDF path
    (reference tablite/utils.py:55-83)."""
    t = Table(spark.createDataFrame([(1, 4), (2, 3), (3, 1)], "a int, b int"))
    out = t.expression("(a ** 2) > b")
    assert sorted(r["a"] for r in out.df.collect()) == [2, 3]


def test_expression_user_function_namespace(spark):
    t = Table(spark.createDataFrame([(1, 4), (2, 3), (5, 1)], "a int, b int"))
    out = t.expression("f(a, b) > 4", namespace={"f": lambda x, y: x + y})
    assert sorted(r["a"] for r in out.df.collect()) == [1, 2, 5]


def test_expression_sql_path_still_fast(spark):
    t = Table(spark.createDataFrame([(1,), (5,)], "a int"))
    assert [r["a"] for r in t.expression("a > 2").df.collect()] == [5]


def test_imputation_missing_values(spark):
    """Reference `missing` iterable: listed sentinels are treated as
    nulls before filling."""
    t = Table(spark.createDataFrame(
        [(1, "x"), (2, "N/A"), (3, "x"), (4, "x")], "k int, v string"))
    out = t.imputation(["v"], missing=["N/A"], method="mode")
    assert [r["v"] for r in sorted(out.df.collect(), key=lambda r: r["k"])] \
        == ["x", "x", "x", "x"]


def test_replace_missing_values_points_at_imputation(spark):
    t = Table(spark.createDataFrame([(1,)], "k int"))
    with pytest.raises(AttributeError, match="imputation"):
        t.replace_missing_values(["k"])



def test_filter_leaves_nothing_cached(spark):
    """``Table.filter`` over an expensive upstream (a ``distinct()``)
    pins nothing: after both sides are read the cache manager holds no
    entry and no persistent RDD was added, so a caller outside any
    ``scope()`` is left with no cached blocks it cannot free."""
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    dup = spark.createDataFrame([(i % 5, i % 5 * 10) for i in range(20)],
                                "a int, b int")
    rdds0 = jsc.getPersistentRDDs().size()
    t, f = Table(dup.distinct()).filter(
        [{"column1": "a", "criteria": ">=", "value2": 3}])
    assert sorted(r["a"] for r in t.df.collect()) == [3, 4]
    assert sorted(r["a"] for r in f.df.collect()) == [0, 1, 2]
    assert all("InMemoryTableScan" not in
               x.df._jdf.queryExecution().executedPlan().toString()
               for x in (t, f))
    assert cache.isEmpty()
    assert jsc.getPersistentRDDs().size() == rdds0
