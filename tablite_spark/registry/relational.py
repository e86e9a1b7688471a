"""Relational query wave (SURVEY §2): scans, filters, joins,
aggregations, sorts, set ops, IO round-trips — split verbatim from
``__spark_entry__.py`` (round 12).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from tablite_spark.plans.lifecycle import scratch
from tablite_spark.registry._base import SF_SMOKE, _cents, _t  # noqa: F401



def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _cents(F.col("l_extendedprice")).alias("sum_base_price"),
            _cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_revenue(spark: SparkSession, sf: str) -> DataFrame:
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    j = (cust.join(orders, cust.c_custkey == orders.o_custkey)
         .join(li, orders.o_orderkey == li.l_orderkey))
    return (j.groupBy("o_orderkey")
            .agg(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
            .filter(F.col("revenue") > 100000))


def q5_nation_revenue(spark: SparkSession, sf: str) -> DataFrame:
    region = _t(spark, sf, "region")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    supplier = _t(spark, sf, "supplier")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
         .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
         .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey))
    return (j.groupBy("n_name")
            .agg(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")))


def filter_pass(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.filters import filter_pass_fail
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    t, _f = filter_pass_fail(li, [
        {"column1": "l_quantity", "criteria": ">=", "value2": 25.0},
        {"column1": "l_discount", "criteria": "<=", "value2": 0.05},
    ], "all")
    return t


def filter_fail(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.filters import filter_pass_fail
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    _t_, f = filter_pass_fail(li, [
        {"column1": "l_quantity", "criteria": ">=", "value2": 25.0},
        {"column1": "l_discount", "criteria": "<=", "value2": 0.05},
    ], "all")
    return f


def filter_any(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.filters import filter_pass_fail
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    t, _f = filter_pass_fail(li, [
        {"column1": "l_quantity", "criteria": ">=", "value2": 49.0},
        {"column1": "l_returnflag", "criteria": "==", "value2": "R"},
    ], "any")
    return t


def filter_expression(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.filters import mask_from_string
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    return li.filter(mask_from_string("all((l_quantity >= 30, l_returnflag == 'R'))"))


def filter_substring_in(spark: SparkSession, sf: str) -> DataFrame:
    """tablite's `in` = substring containment (tablite/mp_utils.py:13-18)."""
    from tablite_spark.operators.filters import filter_pass_fail
    p = _t(spark, sf, "part").select("p_partkey", "p_name", "p_type")
    t, _f = filter_pass_fail(p, [
        {"value1": "ECO", "criteria": "in", "column2": "p_type"},
    ], "all")
    return t


def filter_callable(spark: SparkSession, sf: str) -> DataFrame:
    """any/all with a python callable predicate (tablite/core.py:441-481)
    — the row-at-a-time UDF slow path, kept for parity."""
    from tablite_spark.operators.filters import any_all
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    return any_all(o, {"o_orderkey": lambda v: v % 3 == 0}, "all")


def groupby_accumulators(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.groupby import GroupBy, groupby
    li = _t(spark, sf, "lineitem")
    g = groupby(li, ["l_returnflag"], [
        ("l_quantity", GroupBy.sum),
        ("l_quantity", GroupBy.min),
        ("l_quantity", GroupBy.max),
        ("l_quantity", GroupBy.avg),
        ("l_quantity", GroupBy.count),
        ("l_quantity", GroupBy.count_unique),
        ("l_quantity", GroupBy.stdev),
        ("l_quantity", GroupBy.median),
    ])
    return g.select(
        "l_returnflag",
        F.round(F.col("Sum(l_quantity)"), 2).alias("sum_q"),
        F.col("Min(l_quantity)").alias("min_q"),
        F.col("Max(l_quantity)").alias("max_q"),
        F.round(F.col("Average(l_quantity)"), 4).alias("avg_q"),
        F.col("Count(l_quantity)").alias("cnt"),
        F.col("CountUnique(l_quantity)").alias("cntu"),
        F.round(F.col("StandardDeviation(l_quantity)"), 4).alias("stdev_q"),
        F.round(F.col("Median(l_quantity)"), 4).alias("median_q"),
    )


def distinct_keys(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.groupby import groupby
    li = _t(spark, sf, "lineitem")
    return groupby(li, ["l_returnflag", "l_linestatus"], [])


def unique_first(spark: SparkSession, sf: str) -> DataFrame:
    """unique_index: first row per key, by explicit order (base.py:1967-1989)."""
    from tablite_spark.operators.sorting import unique_index
    o = _t(spark, sf, "orders")
    u = unique_index(o, ["o_orderstatus", "o_orderpriority"], order_by=["o_orderkey"])
    return u.select("o_orderstatus", "o_orderpriority", "o_orderkey")


def join_inner(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.joins import join
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    j = join(o, c, ["o_custkey"], ["c_custkey"],
             left_columns=["o_orderkey", "o_totalprice"],
             right_columns=["c_name", "c_mktsegment"], kind="inner")
    return j.filter(F.col("o_totalprice") > 400000)


def join_left(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.joins import join
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 450000)
    return join(c, o, ["c_custkey"], ["o_custkey"],
                left_columns=["c_custkey", "c_name"],
                right_columns=["o_orderkey", "o_totalprice"], kind="left")


def join_outer_merge_keys(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.joins import join
    a = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 3 == 0) \
        .select(F.col("o_orderkey").alias("k"), "o_totalprice")
    b = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 3 == 1) \
        .select(F.col("o_orderkey").alias("k"), "o_orderstatus")
    return join(a, b, ["k"], ["k"], kind="outer", merge_keys=True)


def join_cross(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.joins import join
    r = _t(spark, sf, "region")
    s = _t(spark, sf, "supplier")
    return join(r, s, None, None,
                left_columns=["r_regionkey", "r_name"],
                right_columns=["s_suppkey", "s_name"], kind="cross")


def join_semi(spark: SparkSession, sf: str) -> DataFrame:
    """match with keep_right=[] == left-semi (tablite/match.py:6-102)."""
    from tablite_spark.operators.joins import match
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return match(c, o, [("c_custkey", "o_custkey")],
                 keep_left=["c_custkey", "c_name"], keep_right=[])


def join_anti(spark: SparkSession, sf: str) -> DataFrame:
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


def join_nullsafe(spark: SparkSession, sf: str) -> DataFrame:
    """None is a joinable key (tablite/joins.py:201-210)."""
    from tablite_spark.operators.joins import join
    c = _t(spark, sf, "customer").select(
        F.nullif(F.col("c_nationkey") % 5, F.lit(3)).alias("k"),
        "c_custkey")
    s = _t(spark, sf, "supplier").select(
        F.nullif(F.col("s_nationkey") % 5, F.lit(3)).alias("k"),
        "s_suppkey")
    j = join(c, s, ["k"], ["k"], left_columns=["k", "c_custkey"],
             right_columns=["s_suppkey"], kind="inner")
    return j.groupBy("k").agg(F.count(F.lit(1)).alias("n_pairs"),
                              F.sum("s_suppkey").alias("sum_supp"))


def lookup_first_match(spark: SparkSession, sf: str) -> DataFrame:
    """First-match theta join (tablite/lookup.py:14-110): for each order,
    the first lineitem (by shipdate, linenumber) shipped on/after the
    order date."""
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate", "l_linenumber")
    j = o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate >= o.o_orderdate), "left")
    # first match as min(struct) — partial-aggregable map-side, unlike a
    # window rank which shuffles every matched pair
    best = F.when(li.l_shipdate.isNotNull(),
                  F.struct(li.l_shipdate.alias("sd"),
                           li.l_linenumber.alias("ln")))
    return (j.groupBy("o_orderkey")
            .agg(F.min(best).alias("b"))
            .select("o_orderkey",
                    # timestamp, not date: Spark DATE -> pandas
                    # object-of-date while the DuckDB twin is
                    # datetime64 — a dtype-CLASS mismatch that only
                    # passed the driver hash by stringification
                    # coincidence. timestamp vs DATE is datetime
                    # class on both sides (unit tolerance proven).
                    F.col("b.sd").cast("timestamp").alias("first_ship"),
                    F.col("b.ln").alias("l_linenumber")))


def pivot_wide(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.groupby import GroupBy, pivot
    li = _t(spark, sf, "lineitem")
    p = pivot(li, ["l_returnflag"], ["l_linestatus"], [("l_quantity", GroupBy.sum)])
    cols = [F.col("l_returnflag")]
    for c in sorted(p.columns):
        if c != "l_returnflag":
            cols.append(F.round(F.col(f"`{c}`"), 2).alias(c))
    return p.select(*cols)


def melt_long(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.groupby import melt
    p = _t(spark, sf, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"))
    return melt(p, ids=["p_partkey"], values=["p_size", "p_retailprice"],
                variable_name="attr", value_name="val")


def window_topn(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.groupby import top_k_per_group
    c = _t(spark, sf, "customer")
    return (top_k_per_group(c, ["c_mktsegment"],
                            [F.col("c_acctbal").desc(),
                             F.col("c_custkey").asc()], 3, rank="rn")
            .select("c_mktsegment", "rn", "c_custkey", "c_acctbal"))


def window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    w = (W.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"))


def window_lag(spark: SparkSession, sf: str) -> DataFrame:
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_custkey", "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        (F.datediff(F.col("o_orderdate"),
                    F.lag("o_orderdate").over(w))).alias("days_since_prev"))


def slice_step(spark: SparkSession, sf: str) -> DataFrame:
    """t[10:200:7] over orders ordered by o_orderkey (base.py:1205-1287)."""
    from tablite_spark.operators.sorting import slice_rows
    o = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    return slice_rows(o, 10, 200, 7, order_by=["o_orderkey"])


def concat_tables(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.setops import concat
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    a = li.filter(F.col("l_quantity") < 3)
    b = li.filter(F.col("l_quantity") > 48)
    return concat(a, b)


def stack_tables(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.setops import stack
    a = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    b = _t(spark, sf, "region").select(
        F.col("r_regionkey").alias("n_nationkey"), F.col("r_name").alias("r_name"))
    return stack(a, b)


def repeat_table(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.setops import repeat
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    return repeat(n, 3)


def replace_values_q(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.filters import replace_values
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    return replace_values(n, {"CHINA": "PRC", "UNITED STATES": "USA"}, ["n_name"])


def drop_rows_q(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.filters import drop_rows_with
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_returnflag", "l_linestatus")
    return drop_rows_with(li, "R", "F")


def column_select_pass(spark: SparkSession, sf: str) -> DataFrame:
    """Cast-with-reject gate (tablite/core.py:704-733)."""
    from tablite_spark.operators.select import column_select
    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_orderkey").cast("string"))
         .otherwise(F.concat(F.lit("x"), F.col("o_orderkey").cast("string")))
         .alias("v"))
    p, _f = column_select(o, [
        {"column": "o_orderkey", "type": "int", "rename": "okey"},
        {"column": "v", "type": "int", "rename": "v_int"},
    ])
    return p


def column_select_fail(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.select import column_select
    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.col("o_orderkey").cast("string"))
         .otherwise(F.concat(F.lit("x"), F.col("o_orderkey").cast("string")))
         .alias("v"))
    _p, f = column_select(o, [
        {"column": "o_orderkey", "type": "int", "rename": "okey"},
        {"column": "v", "type": "int", "rename": "v_int"},
    ])
    return f.select("o_orderkey", "v", "reject_reason")


def imputation_ffill(spark: SparkSession, sf: str) -> DataFrame:
    """Carry-forward imputation over an explicit order
    (tablite/imputation.py:12-158)."""
    from tablite_spark.operators.imputation import carry_forward
    e = _t(spark, sf, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
         .otherwise(F.col("value")).alias("value"))
    out = carry_forward(e, ["value"], order_by=["event_id"])
    return out.select("event_id", F.round(F.col("value"), 2).alias("value"))


def imputation_mean(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.imputation import fill_mean
    e = _t(spark, sf, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
         .otherwise(F.col("value")).alias("value"))
    out = fill_mean(e, ["value"])
    return out.select("event_id", F.round(F.col("value"), 2).alias("value"))


def statistics_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    c = F.col("l_quantity")
    return li.agg(
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.round(F.avg(c), 4).alias("mean"),
        F.round(F.median(c), 4).alias("median"),
        F.round(F.stddev_samp(c), 4).alias("stdev"),
        F.count_distinct(c).alias("distinct"),
        F.round(F.sum(c), 2).alias("sum"),
        F.count(c).alias("non_null"),
    )


def histogram_q(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.stats import histogram
    o = _t(spark, sf, "orders")
    return histogram(o, "o_orderpriority")


def xround_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """xround: bucket prices to 1000s (tablite/datatypes.py:325-371)."""
    from tablite_spark.functions.rounding import xround
    o = _t(spark, sf, "orders")
    return (o.select(xround(F.col("o_totalprice"), 1000, up=False)
                     .cast("long").alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n")))


def diff_tables(spark: SparkSession, sf: str) -> DataFrame:
    from tablite_spark.operators.setops import table_diff
    a = _t(spark, sf, "nation").filter(F.col("n_nationkey") < 15) \
        .select("n_nationkey", "n_name")
    b = _t(spark, sf, "nation").filter(F.col("n_nationkey") >= 10) \
        .select("n_nationkey", "n_name")
    return table_diff(a, b)


def sessionize_events(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions per user via lag+cumsum —
    the batch form of session windows (additive capability, SURVEY §2.8)."""
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (e.withColumn("new_sess", new_sess)
            .withColumn("session_seq", F.sum("new_sess").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow))))
    return (sess.groupBy("user_id", "session_seq")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.round(F.col("value") * 100, 0)) / 100)
                 .alias("session_value")))


def tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation (batch form of
    Structured Streaming's window(); SURVEY §2.8)."""
    e = _t(spark, sf, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"),
                      F.col("event_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .withColumn("hour_start", F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss")))


def hopping_window(spark: SparkSession, sf: str) -> DataFrame:
    """Batch hopping (sliding) windows — native F.window with slide
    (1h windows every 15min): each event lands in 4 overlapping
    windows via Catalyst's Expand, no self-join."""
    e = _t(spark, sf, "events")
    return (e.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.round(F.col("value") * 100, 0)) / 100).alias("val_sum"))
            .select(F.col("window.start").alias("w_start"),
                    "event_type", "n", "val_sum"))


def merge_where_case(spark: SparkSession, sf: str) -> DataFrame:
    """Table.merge: CASE column merge dropping sources
    (tablite/merge.py:7-50)."""
    from tablite_spark.operators.merge import merge_where
    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority", "o_orderstatus")
    m = merge_where(o, "o_orderpriority", "o_orderstatus", "label",
                    F.col("o_totalprice") > 200000)
    return m.select("o_orderkey", "label")


def groupby_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Mode accumulator (nimlite/funcs/groupby.nim:394-441)."""
    from tablite_spark.operators.groupby import GroupBy, groupby
    li = _t(spark, sf, "lineitem")
    g = groupby(li, ["l_returnflag"], [("l_linenumber", GroupBy.mode)])
    return g.select("l_returnflag",
                    F.col("Mode(l_linenumber)").alias("mode_ln"))


def groupby_product(spark: SparkSession, sf: str) -> DataFrame:
    """Product accumulator (nimlite/funcs/groupby.nim:107-152)."""
    from tablite_spark.operators.groupby import GroupBy, groupby
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 1000) \
        .withColumn("disc1", 1 + F.col("l_discount"))
    g = groupby(li, ["l_orderkey"], [("disc1", GroupBy.product)])
    return g.select("l_orderkey",
                    F.round(F.col("Product(disc1)"), 4).alias("prod_disc"))


def sort_mixed_excel(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-type 'excel' collation: numeric < text < bool < None
    (tablite/sort_utils.py:152-173) over a string-coded mixed column;
    output position proves the total order."""
    from tablite_spark.operators.sorting import _mixed_sort_key
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 4 == 0,
               F.col("o_totalprice").cast("string"))
         .when(F.col("o_orderkey") % 4 == 1, F.col("o_orderpriority"))
         .when(F.col("o_orderkey") % 4 == 2,
               F.when(F.col("o_orderkey") % 8 == 2, F.lit("true")).otherwise(F.lit("false")))
         .alias("v"))
    keys = [k.asc_nulls_last() for k in _mixed_sort_key("v", "excel")]
    keys.append(F.col("o_orderkey").asc())
    return o.select(
        (F.row_number().over(W.orderBy(*keys)) - 1).alias("pos"),
        "o_orderkey", "v")


def transpose_region(spark: SparkSession, sf: str) -> DataFrame:
    """Full matrix rotation, first column becomes header
    (tablite/pivots.py:185-198)."""
    from tablite_spark.operators.groupby import transpose
    r = _t(spark, sf, "region").select("r_regionkey", "r_name").orderBy("r_regionkey")
    return transpose(r)


def reindex_rows(spark: SparkSession, sf: str) -> DataFrame:
    """Reorder rows by integer positions, -1 → null row
    (tablite/core.py:375-392)."""
    from tablite_spark.operators.sorting import reindex
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    return reindex(n, [5, 3, -1, 7, 20], order_by=["n_nationkey"])


def imputation_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Mode imputation (tablite/imputation.py:12-158)."""
    from tablite_spark.operators.imputation import fill_mode
    e = _t(spark, sf, "events").select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("string"))
         .otherwise(F.col("event_type")).alias("etype"))
    return fill_mode(e, ["etype"])


def imputation_nn(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest-neighbour imputation: rank-normalized L1 distance over
    source columns (nimlite/funcs/imputation.nim:116-275)."""
    from tablite_spark.operators.imputation import nearest_neighbour
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") < 300).select(
        "c_custkey", "c_nationkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None).cast("double"))
         .otherwise(F.round(F.col("c_acctbal"), 2)).alias("bal"))
    out = nearest_neighbour(c, ["bal"], ["c_custkey", "c_nationkey"],
                            tiebreak=["c_custkey"])
    return out.select("c_custkey", F.round(F.col("bal"), 2).alias("bal"))


def imputation_nn_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate NN imputation via random-hyperplane LSH buckets —
    the 100 TB path (candidates from (table, bucket) equi joins, exact
    re-rank within buckets, exact fallback).

    EXACT-oracled by construction: every null row (odd custkey) has a
    unique distance-0 donor (its even partner shares the same ``pair``
    source value). Identical source vectors hash to identical buckets
    in every LSH table, so the partner is always a candidate, and the
    exact re-rank makes it the unique winner — LSH == exact NN here,
    which DuckDB reproduces with a self-join on the pair key."""
    from tablite_spark.operators.imputation import nearest_neighbour_lsh
    c = _t(spark, sf, "customer").filter(
        (F.col("c_custkey") >= 2) & (F.col("c_custkey") < 600)).select(
        "c_custkey",
        F.floor(F.col("c_custkey") / 2).cast("long").alias("pair"),
        F.when(F.col("c_custkey") % 2 == 1, F.lit(None).cast("double"))
         .otherwise(F.round(F.col("c_acctbal"), 2)).alias("bal"))
    out = nearest_neighbour_lsh(c, ["bal"], ["pair"])
    return out.select("c_custkey", F.round(F.col("bal"), 2).alias("bal"))


def pivot_long(spark: SparkSession, sf: str) -> DataFrame:
    """pivot(values_as_rows=True): wide pivot melted back to
    (keys, function, value) rows (tablite/pivots.py:11-182)."""
    from tablite_spark.operators.groupby import GroupBy, pivot
    li = _t(spark, sf, "lineitem")
    p = pivot(li, ["l_returnflag"], ["l_linestatus"],
              [("l_quantity", GroupBy.sum)], values_as_rows=True)
    return p.select("l_returnflag", "function",
                    F.round(F.col("value"), 2).alias("value"))


def sort_alphanumeric(spark: SparkSession, sf: str) -> DataFrame:
    """'alphanumeric' collation: everything compared as text
    (tablite/sort_utils.py:210-216)."""
    from tablite_spark.operators.sorting import _mixed_sort_key
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0,
               F.col("o_totalprice").cast("string"))
         .when(F.col("o_orderkey") % 3 == 1, F.col("o_orderpriority"))
         .alias("v"))
    keys = [k.asc_nulls_first() for k in _mixed_sort_key("v", "alphanumeric")]
    keys.append(F.col("o_orderkey").asc())
    return o.select(
        (F.row_number().over(W.orderBy(*keys)) - 1).alias("pos"),
        "o_orderkey", "v")


def drop_duplicates_q(spark: SparkSession, sf: str) -> DataFrame:
    """Table.drop_duplicates on selected columns
    (tablite/core.py:394-404)."""
    from tablite_spark.operators.filters import drop_duplicates
    li = _t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus", "l_linenumber")
    return drop_duplicates(li, "l_returnflag", "l_linestatus", "l_linenumber")


def groupby_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """First/Last accumulators (nimlite/funcs/groupby.nim:155-182) made
    deterministic over an explicit order: first/last order (by orderkey)
    per customer."""
    o = _t(spark, sf, "orders")
    return (o.groupBy("o_custkey")
            .agg(F.min_by("o_totalprice", "o_orderkey").alias("first_price"),
                 F.max_by("o_totalprice", "o_orderkey").alias("last_price")))


def date_range_expand(spark: SparkSession, sf: str) -> DataFrame:
    """date_range generator (tablite/utils.py:401-409) → F.sequence:
    one row per day between orderdate and first shipdate."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 100)
    li = _t(spark, sf, "lineitem").groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship"))
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    od = F.col("o_orderdate").cast("date")
    sd = F.col("ship").cast("date")
    days = F.sequence(F.least(od, sd), F.greatest(od, sd))
    return (j.select("o_orderkey", F.explode(days).alias("day"))
            .withColumn("day", F.date_format("day", "yyyy-MM-dd")))


def statistics_text(spark: SparkSession, sf: str) -> DataFrame:
    """Column.statistics str variant — stats over value lengths
    (tablite/utils.py:188-398: strings are measured by length)."""
    c = F.length(F.col("c_name"))
    cust = _t(spark, sf, "customer")
    return cust.agg(
        F.min(c).alias("min_len"),
        F.max(c).alias("max_len"),
        F.round(F.avg(c), 4).alias("avg_len"),
        F.count_distinct(F.col("c_name")).alias("distinct"),
    )


def statistics_dates(spark: SparkSession, sf: str) -> DataFrame:
    """Column.statistics on a temporal column (tablite/utils.py:188-398
    maps date/time to numeric and back). Exact stats only — mode can
    tie and mean/iqr cross approximate paths."""
    from tablite_spark.operators.stats import statistics
    li = _t(spark, sf, "lineitem")
    s = statistics(li, "l_shipdate")
    return s.select("min", "max", "median", "distinct", "non_null")


def index_rowids(spark: SparkSession, sf: str) -> DataFrame:
    """Table.index: key tuple → row ids (tablite/base.py:1927-1965);
    row-id lists serialized sorted so the value-hash is stable."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 500)
    return (o.groupBy("o_orderstatus", "o_orderpriority")
            .agg(F.concat_ws(",", F.sort_array(F.collect_list(
                F.col("o_orderkey").cast("string")))).alias("row_ids")))


def sort_unix_mixed(spark: SparkSession, sf: str) -> DataFrame:
    """'unix' collation: None < bool < numeric < text
    (tablite/sort_utils.py:176-207)."""
    from tablite_spark.operators.sorting import _mixed_sort_key
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 4 == 0,
               F.col("o_totalprice").cast("string"))
         .when(F.col("o_orderkey") % 4 == 1, F.col("o_orderpriority"))
         .when(F.col("o_orderkey") % 4 == 2,
               F.when(F.col("o_orderkey") % 8 == 2, F.lit("true")).otherwise(F.lit("false")))
         .alias("v"))
    keys = [k.asc_nulls_first() for k in _mixed_sort_key("v", "unix")]
    keys.append(F.col("o_orderkey").asc())
    return o.select(
        (F.row_number().over(W.orderBy(*keys)) - 1).alias("pos"),
        "o_orderkey", "v")


def xround_time_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """DataTypes.round on datetimes: 30-minute buckets
    (tablite/datatypes.py:325-371)."""
    from tablite_spark.functions.rounding import xround_ts
    e = _t(spark, sf, "events")
    return (e.select(xround_ts(F.col("ts"), 1800, up=False).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
            .withColumn("bucket", F.date_format("bucket", "yyyy-MM-dd HH:mm:ss")))


def csv_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E CSV writer→reader proof (tablite from_file/to_csv,
    tablite/core.py:50-218): export lineitem columns to CSV, re-read
    with schema inference, aggregate — oracled against the parquet
    source data, so any reader/writer corruption breaks the value hash."""
    from tablite_spark.sources.io import read_csv
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    tmp = scratch("csv_rt_")
    path = f"{tmp}/li_csv"
    li.write.mode("overwrite").option("header", True).csv(path)
    back = read_csv(spark, path)
    return (back.groupBy("l_returnflag")
            .agg(_cents(F.col("l_quantity")).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("l_orderkey") + F.col("l_linenumber")).alias("key_sum")))


def _nation_by_region(nation: DataFrame) -> DataFrame:
    """The aggregate the nation round-trip queries compare to their
    source: rows, key sum and first name per region."""
    return (nation.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_nationkey").alias("key_sum"),
                 F.min("n_name").alias("first_name")))


def json_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E JSON-lines writer→reader proof (tablite from_json/to_json,
    tablite/import_utils.py:112-122): export nation to JSON, re-read,
    aggregate against the parquet source."""
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    tmp = scratch("json_rt_")
    path = f"{tmp}/nation_json"
    n.write.mode("overwrite").json(path)
    back = spark.read.json(path)
    return _nation_by_region(back).withColumn(
        "n_regionkey", F.col("n_regionkey").cast("long"))


def parquet_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """tpz-equivalent persistence proof (tablite/base.py:1350-1453):
    save→load→aggregate matches the source."""
    from tablite_spark.sources.io import load, save
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_quantity", "l_returnflag")
    tmp = scratch("pq_rt_")
    save(li, f"{tmp}/li")
    back = load(spark, f"{tmp}/li")
    return (back.groupBy("l_returnflag")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n")))


def xlsx_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E xlsx writer→reader proof (stdlib SpreadsheetML,
    tablite/import_utils.py:180-368 analogue): export nation, re-read
    via from_file, aggregate against the parquet source."""
    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.xlsx import to_xlsx
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    tmp = scratch("xlsx_rt_")
    path = f"{tmp}/nation.xlsx"
    to_xlsx(n, path)
    back = from_file(spark, path)
    return _nation_by_region(back)


def sql_script_md5(spark: SparkSession, sf: str) -> DataFrame:
    """SQL script writer (sources/io.py:to_sql_script, the reference's
    export_utils.py:12-48 ANSI-92 CREATE+INSERT export): the script
    for key-ordered region must match, byte for byte, the script DuckDB
    assembles from the same rows (md5 + line count)."""
    from tablite_spark.sources.io import to_sql_script
    import hashlib
    r = _t(spark, sf, "region").orderBy("r_regionkey")
    script = to_sql_script(r, "region_x")
    h = hashlib.md5(script.encode()).hexdigest()
    return spark.createDataFrame(
        [(h, script.count("\n") + 1)], "script_md5 string, n_lines long")


def row_iteration_checksum(spark: SparkSession, sf: str) -> DataFrame:
    """Table.rows driver-side iteration (table.py:189, the reference's
    tablite/base.py:1294-1318 row iterator): stream ordered nation
    rows via toLocalIterator and fold an order-sensitive checksum —
    position-weighted key sum + md5 of the name concatenation — so
    the oracle proves completeness AND iteration order, not just
    row count."""
    import hashlib

    from tablite_spark.table import Table
    t = Table(_t(spark, sf, "nation")
              .select("n_nationkey", "n_name").orderBy("n_nationkey"))
    n, weighted, names = 0, 0, []
    for key, name in t.rows:
        n += 1
        weighted += n * key
        names.append(name)
    md5 = hashlib.md5("|".join(names).encode()).hexdigest()
    return spark.createDataFrame(
        [(n, weighted, md5)], "n long, weighted long, name_md5 string")


def get_headers_nation(spark: SparkSession, sf: str) -> DataFrame:
    """get_headers file peek (sources/io.py:get_headers, the
    reference's tools.py:32-36): header names of a written CSV, as
    (position, column_name) rows — pinned by a hard-assertion oracle."""
    from tablite_spark.sources.io import get_headers, to_csv
    n = _t(spark, sf, "nation")
    tmp = scratch("hdr_")
    path = f"{tmp}/nation.csv"
    to_csv(n, path)
    headers = get_headers(spark, path, linecount=2)[0]
    return spark.createDataFrame(
        list(enumerate(headers)), "pos long, name string")


def construction_api_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Table construction surface (table.py:add_columns/add_column/
    add_rows/clear): build a frame from nothing via the facade, append
    literal rows, aggregate. The oracle recomputes from VALUES."""
    from tablite_spark.table import Table
    t = Table(spark.createDataFrame([], "k int, v string"))
    t = t.add_rows((1, "a"), (2, "b"), {"k": 3, "v": "a"})
    t = t.add_column("w", F.col("k") * 10)
    return t.df.groupBy("v").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("k_sum"),
        F.sum("w").alias("w_sum"))


def table_equality_check(spark: SparkSession, sf: str) -> DataFrame:
    """Table ``==`` semantics (table.py:__eq__ →
    setops.frames_equal): a copy must equal its source, a
    value-perturbed twin must not, column order must not matter.
    Hard-assertion oracle — the expected booleans are constants."""
    from tablite_spark.table import Table
    n = Table(_t(spark, sf, "nation"))
    same = n == n.copy()
    reordered = n == Table(n.df.select(*reversed(n.df.columns)))
    perturbed = n == Table(
        n.df.withColumn("n_nationkey", F.col("n_nationkey") + 1))
    return spark.createDataFrame(
        [("same", bool(same)), ("reordered", bool(reordered)),
         ("perturbed", bool(perturbed))], "check string, eq boolean")


def rename_reorder_project(spark: SparkSession, sf: str) -> DataFrame:
    """Rename / reorder / delete column surface (table.py:rename,
    __getitem__ column projection, withColumnsRenamed pass-through) —
    oracled as the equivalent SELECT-with-aliases."""
    from tablite_spark.table import Table
    t = Table(_t(spark, sf, "nation"))
    t = t.rename({"n_name": "nation_name", "n_regionkey": "region_id"})
    t = Table(t.df.select("region_id", "nation_name", "n_nationkey"))
    t = Table(t.df.drop("n_nationkey"))
    return t.df.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("nation_name").alias("first_name"))


def ods_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E OpenDocument writer→reader proof (stdlib zip+XML,
    tablite/import_utils.py OpenDocument analogue): export nation,
    re-read via from_file, aggregate against the parquet source."""
    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.ods import to_ods
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    tmp = scratch("ods_rt_")
    path = f"{tmp}/nation.ods"
    to_ods(n, path)
    back = from_file(spark, path)
    return _nation_by_region(back)


def tpz_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E native ``.tpz`` archive proof (reference
    tablite/base.py:1350-1453 Table.save/load — zip of table.yml +
    .npy pages): export nation with a None-bearing string column and
    a float column (mixed page dtypes: long + '<U' unicode + pickled
    object-with-None + float64), re-read via from_file suffix
    dispatch, aggregate against the parquet source."""
    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.tpz import save_tpz
    n = (_t(spark, sf, "nation")
         .select("n_nationkey", "n_name", "n_regionkey",
                 F.when(F.col("n_nationkey") % 3 != 0,
                        F.upper(F.col("n_name"))).alias("maybe_comment"),
                 (F.col("n_nationkey") * 1.5).alias("score")))
    tmp = scratch("tpz_rt_")
    path = save_tpz(n, f"{tmp}/nation.tpz", page_rows=7)
    back = from_file(spark, path, allow_pickle=True)  # trusted: we wrote it
    return (back.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_nationkey").alias("key_sum"),
                 F.count("maybe_comment").alias("comments_kept"),
                 F.sum("score").alias("score_sum"),
                 F.min("n_name").alias("first_name")))


def tpz_reference_read(spark: SparkSession, sf: str) -> DataFrame:
    """Migration-interop proof over an archive our OWN writer did NOT
    produce: ``tests/fixtures/reference_table.tpz`` is byte-assembled
    to the reference writer's exact output (tablite/base.py:1350-1418
    — its yaml.safe_dump manifest, ``{pid}-{n}.npy`` page naming,
    object pages pickled as ``tablite.datatypes.MetaArray`` ndarray
    subclasses, a page repeated within a column and one shared by two
    columns incl. the duplicate zip member; generator:
    tools/make_reference_tpz_fixture.py). Plain ``np.load`` cannot
    open its object pages without tablite installed — reading it
    end-to-end exercises the restricted-unpickler MetaArray shim.
    The oracle is the literal cell values, so every column round-trips
    bit-exact (incl. a 2^60+1 long the float64 fallback would corrupt).
    """
    import pathlib

    from tablite_spark.registry._base import REPO_ROOT
    from tablite_spark.sources.io import from_file
    fixture = (pathlib.Path(REPO_ROOT)
               / "tests" / "fixtures" / "reference_table.tpz")
    df = from_file(spark, str(fixture), allow_pickle=True)
    return df.select(
        "n_key", "name", "maybe_note", "amount", "score", "ok",
        # timestamp, not date: aligns the pandas dtype CLASS with
        # the DuckDB DATE oracle (datetime64) instead of relying on
        # object-of-date stringification coinciding.
        "created", F.col("day").cast("timestamp").alias("day_col"),
        F.col("列 tag").alias("tag"), "dup_a", "dup_b",
    ).orderBy("n_key")


def hdf5_foreign_read(spark: SparkSession, sf: str) -> DataFrame:
    """Foreign-layout HDF5 interop: ``tests/fixtures/foreign_layout.h5``
    is byte-assembled (tools/make_foreign_h5_fixture.py) with the
    structures libhdf5/h5py emit but our own writer never does —
    cache_type-0 root entry, level-1 group B-tree over two SNOD
    leaves, NIL/fill/mtime messages in permuted order, an object
    header split by a continuation block, a two-level chunk B-tree
    under a shuffle+deflate pipeline, null-terminated fixed strings,
    vlen strings spanning two GCOL collections, a deferred-allocation
    dataset, a compact dataset, nested groups and rank-0 attributes.
    Returns one row per dataset (name, n, agg) where agg is an exact
    integer/string digest; the oracle pins all values literally, so a
    reader regression on ANY of those structures flips the hash."""
    import os

    from tablite_spark.registry._base import REPO_ROOT
    from tablite_spark.sources import hdf5lite
    p = os.path.join(REPO_ROOT, "tests", "fixtures",
                     "foreign_layout.h5")
    data = hdf5lite.read(p)
    rows = []
    for name in sorted(data):
        arr = data[name]
        if arr.dtype.kind in ("i", "u"):
            agg = str(int(arr.sum()))
        elif arr.dtype.kind == "f":
            agg = str(int(round(float(arr.sum()) * 4)))  # exact quarters
        else:  # fixed S / vlen object bytes
            agg = "|".join(v.decode() for v in arr.tolist())
        rows.append((name, len(arr), agg))
    return spark.createDataFrame(rows, "name string, n long, agg string")


def xls_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E legacy-.xls proof via the stdlib xlslite codec (OLE2
    compound file + BIFF8 records, sources/xlslite.py — the
    reference's .xls dispatch is tablite/import_utils.py:633-648):
    write nation with the fixture writer, re-read through from_file,
    aggregate against the parquet source."""
    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.xlslite import write_xls
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name",
                                       "n_regionkey").orderBy("n_nationkey")
    rows = [["n_nationkey", "n_name", "n_regionkey"]]
    rows += [[float(r["n_nationkey"]), r["n_name"], float(r["n_regionkey"])]
             for r in n.collect()]
    tmp = scratch("xls_rt_")
    path = f"{tmp}/nation.xls"
    write_xls(path, rows)
    back = from_file(spark, path)
    return (back.groupBy(F.col("n_regionkey").cast("long")
                          .alias("n_regionkey"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_nationkey").cast("long").alias("key_sum"),
                 F.min("n_name").alias("first_name")))


def hdf5_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E HDF5 writer→reader proof through the stdlib hdf5lite codec
    (classic superblock-v0 format written from the public spec, sources/hdf5lite.py) — reference layout is
    one root dataset per column with stringify fallback + re-guess
    (tablite/import_utils.py:72-109, export_utils.py:63-105)."""
    from tablite_spark.sources.io import from_file, to_hdf5
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    tmp = scratch("hdf5_rt_")
    path = f"{tmp}/nation.h5"
    to_hdf5(n, path)
    back = from_file(spark, path)
    return _nation_by_region(back)


def hdf5_chunked_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E proof of the round-5 hdf5lite CHUNKED+deflate path (v1
    chunk B-tree, filter pipeline — sources/hdf5lite.py): orders is
    written with explicit chunk_rows so every dataset spans many
    chunks with a partial tail, compressed, re-read through the
    public reader, and aggregated against the parquet source."""
    from tablite_spark.sources import hdf5lite
    from tablite_spark.sources.io import read_hdf5
    o = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    pdf = o.toPandas()
    path = scratch("hdf5_ck_") + "/orders.h5"
    hdf5lite.write(path, {c: pdf[c].to_numpy() for c in pdf.columns},
                   chunk_rows=1024, compress=True)
    back = read_hdf5(spark, path)
    return (back.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_orderkey").cast("long")).alias("key_sum"),
                 F.round(F.min("o_totalprice"), 2).alias("min_price"),
                 F.round(F.max("o_totalprice"), 2).alias("max_price")))


def xls_dates_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """E2E proof of the round-5 xlslite XF date handling: order dates
    write as serials under a date XF, read back through from_file as
    a guessed TIMESTAMP column (not floats), and aggregate per year
    against the parquet source."""
    import datetime as dt
    from tablite_spark.sources.io import from_file
    from tablite_spark.sources.xlslite import write_xls
    o = (_t(spark, sf, "orders")
         .filter(F.col("o_orderkey") % 97 == 0)
         .select("o_orderkey", "o_orderdate").orderBy("o_orderkey"))
    rows: list[list] = [["okey", "odate"]]
    rows += [[float(r["o_orderkey"]),
              dt.datetime(r["o_orderdate"].year, r["o_orderdate"].month,
                          r["o_orderdate"].day)]
             for r in o.collect()]
    path = scratch("xls_dt_") + "/dates.xls"
    write_xls(path, rows)
    back = from_file(spark, path)
    return (back.groupBy(F.year("odate").alias("yr"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("odate").alias("first_dt"),
                 F.max("odate").alias("last_dt"),
                 F.sum(F.col("okey").cast("long")).alias("key_sum")))


def html_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """E2E HTML writer→reader proof (stdlib html.parser scrape +
    type re-guess; tablite/export_utils.py:108-136 analogue)."""
    from tablite_spark.sources.io import read_html, to_html
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    tmp = scratch("html_rt_")
    path = f"{tmp}/nation.html"
    to_html(n, path)
    back = read_html(spark, path)
    return _nation_by_region(back)


def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6-style filter+agg: every predicate must reach the parquet
    scan as PushedFilters (plan-asserted in tests/test_plans.py)."""
    li = _t(spark, sf, "lineitem")
    return (li.filter(
                (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
                & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
                & (F.col("l_discount") >= 0.03) & (F.col("l_discount") <= 0.06)
                & (F.col("l_quantity") < 24))
            .agg(_cents(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
                 F.count(F.lit(1)).alias("n")))


def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14-style: broadcast dim join + conditional aggregate."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-06-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-08-01"))))
    part = _t(spark, sf, "part").select("p_partkey", "p_type")
    disc = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .agg((F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))) / 100)
                 .alias("promo_revenue"),
                 (F.sum(disc) / 100).alias("total_revenue")))


def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18-style: agg-then-having, semi-joined back to orders and
    customer. The big-side agg happens BEFORE the joins so only
    qualifying orderkeys shuffle into the join."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_name")
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    return (big.join(orders, big.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select("c_name", "o_orderkey", "o_totalprice", "total_qty"))


def q4_priority_exists(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS subquery as a left-semi join, then count
    by priority. (Testdata quirk: l_shipdate is mostly < o_orderdate,
    so the predicate keeps the match selective.)"""
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    j = orders.join(li, (orders.o_orderkey == li.l_orderkey)
                    & (li.l_shipdate > orders.o_orderdate), "left_semi")
    return j.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


def q19_disjunctive_filter(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19-style OR-of-ANDs over a broadcast part join — Catalyst
    must push the common branches and prune the scan."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40)))
    return (j.filter(cond)
            .agg(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue"),
                 F.count(F.lit(1)).alias("n")))


def groupby_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP hierarchy totals — additive beyond the reference (its
    groupby has no grouping sets; SURVEY §2.4 'not present')."""
    li = _t(spark, sf, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.count(F.lit(1)).alias("n"))
            .select(F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
                    F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
                    "sum_qty", "n"))


def groupby_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over two dims — all four grouping sets in one pass
    (additive beyond the reference, like rollup)."""
    o = _t(spark, sf, "orders")
    return (o.cube("o_orderstatus", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.round(F.col("o_totalprice") * 100, 0)) / 100)
                 .alias("price_sum"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
                    "n", "price_sum"))


def window_ntile(spark: SparkSession, sf: str) -> DataFrame:
    """ntile bucketing per partition (analytic-function coverage)."""
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return o.select("o_orderkey", "o_orderstatus",
                    F.ntile(4).over(w).alias("quartile"))


def count_value_q(spark: SparkSession, sf: str) -> DataFrame:
    """Column.count(item) — type-strict occurrence count
    (tablite/base.py:1026-1072)."""
    from tablite_spark.operators.stats import count_value
    li = _t(spark, sf, "lineitem")
    n = count_value(li, "l_returnflag", "R")
    return spark.createDataFrame([(n,)], "n bigint")


def unique_values_q(spark: SparkSession, sf: str) -> DataFrame:
    """Column.unique (tablite/base.py:956-979)."""
    from tablite_spark.operators.stats import unique_values
    return unique_values(_t(spark, sf, "part"), "p_brand")


def is_sorted_q(spark: SparkSession, sf: str) -> DataFrame:
    """Table.is_sorted (tablite/sortation.py:165-177): nation is stored
    ordered by n_nationkey (true) but not by n_name (false)."""
    from tablite_spark.operators.sorting import is_sorted
    nation = _t(spark, sf, "nation")
    by_key = is_sorted(nation, {"n_nationkey": False})
    by_name = is_sorted(nation, {"n_name": False})
    return spark.createDataFrame([(by_key, by_name)],
                                 "sorted_by_key boolean, sorted_by_name boolean")


def remove_all_q(spark: SparkSession, sf: str) -> DataFrame:
    """Column.remove_all as row filter (tablite/base.py:870-885)."""
    from tablite_spark.table import Table
    nation = Table(_t(spark, sf, "nation"))
    out = nation.remove_all("n_name", "CHINA", "FRANCE", "KENYA")
    return out.df.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n"))


def pandas_roundtrip_agg(spark: SparkSession, sf: str) -> DataFrame:
    """pandas bridge both ways (tablite/import_utils.py:40-69,
    export_utils.py:51-60) — Arrow transfer, then aggregate."""
    from tablite_spark.sources.io import from_pandas, to_pandas
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    back = from_pandas(spark, to_pandas(n))
    return (back.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_nationkey").alias("key_sum")))


def json_columnar_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """tablite's column-major JSON codec ({"columns": {...}})
    (tablite/import_utils.py:112-122, export_utils.py:139-143)."""
    from tablite_spark.sources.io import read_json_columnar, to_json_columnar
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    back = read_json_columnar(spark, to_json_columnar(n))
    return _nation_by_region(back)


def merge_upsert_orders(spark: SparkSession, sf: str) -> DataFrame:
    """CDC MERGE INTO over orders: keys ending in 0 are deleted,
    keys ending in 1 get TWO updates (seq 1: +500; seq 2: +1000 and
    status 'X' — the seq collapse must keep the later one), and a
    synthetic insert feed adds keys+1e9 for keys ending in 2. The
    per-status census of the merged table is the check; money rides
    exact integer cents. Oracle: the final state stated directly in
    SQL (the collapse itself is the Spark-side semantics under
    test)."""
    from tablite_spark.operators.merge import merge_upsert
    o = _t(spark, sf, "orders")
    k = F.col("o_orderkey")
    dels = (o.filter(k % 10 == 0)
            .select("*", F.lit("D").alias("op"), F.lit(1).alias("seq")))
    upd1 = (o.filter(k % 10 == 1)
            .withColumn("o_totalprice", F.col("o_totalprice") + 500)
            .select("*", F.lit("U").alias("op"), F.lit(1).alias("seq")))
    upd2 = (o.filter(k % 10 == 1)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
            .withColumn("o_orderstatus", F.lit("X"))
            .select("*", F.lit("U").alias("op"), F.lit(2).alias("seq")))
    ins = (o.filter(k % 10 == 2)
           .withColumn("o_orderkey", k + 1_000_000_000)
           .select("*", F.lit("U").alias("op"), F.lit(1).alias("seq")))
    changes = dels.unionByName(upd1).unionByName(upd2).unionByName(ins)
    merged = merge_upsert(o, changes, ["o_orderkey"], seq_col="seq")
    return (merged.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.round(F.col("o_totalprice") * 100, 0)) / 100)
                 .alias("sum_price")))
