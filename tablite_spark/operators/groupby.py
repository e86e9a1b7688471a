"""Group-by / pivot / melt / transpose — Spark-native hash aggregation.

Reference semantics: tablite's groupby is a streaming hash aggregation
over key tuples with 12 accumulators, output columns named
``f"{Function}({col})"`` (nimlite/funcs/groupby.nim:588-689, naming at
:677-679). Keys-only groupby == distinct (groupby.nim:608-620).

Spark-first: ``df.groupBy(*keys).agg(...)`` gives partial (map-side)
aggregation + spillable final aggregation for free — the reference's
"whole hash table in RAM" ceiling (tablite/joins.py:451-459 comment)
disappears. All accumulators map to built-in JVM functions (no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class GroupBy:
    """Accumulator name constants, mirroring tablite/groupby_utils.py:1-12."""

    max = "Max"
    min = "Min"
    sum = "Sum"
    product = "Product"
    first = "First"
    last = "Last"
    count = "Count"
    count_unique = "CountUnique"
    avg = "Average"
    stdev = "StandardDeviation"
    median = "Median"
    mode = "Mode"

    ALL = (max, min, sum, product, first, last, count, count_unique,
           avg, stdev, median, mode)


def _accumulator(fn: str, col: str) -> Column:
    """Map an accumulator name to its Spark aggregate expression.

    Semantics parity (nimlite/funcs/groupby.nim):
    - Max/Min skip nulls (:69-104)            -> F.max/F.min (null-skipping)
    - Sum/Product numeric (:107-152)          -> F.sum/F.product
    - First/Last = insertion order (:155-182) -> F.first/F.last (see note)
    - Count counts rows incl. nulls (:185-197)-> F.count(lit(1))
    - CountUnique exact distinct (:200-214)   -> F.count_distinct
    - Average running mean (:217-239)         -> F.avg
    - StandardDeviation sample n-1 (:243-277) -> F.stddev_samp
    - Median exact, mean of two mids (:343-391)-> F.median (exact in Spark 3.4+)
    - Mode most frequent (:394-441)           -> F.mode

    Note: First/Last in a distributed engine are only deterministic
    under an explicit ordering; callers who need the reference's
    insertion-order semantics should sort by a stable row id first.
    """
    c = F.col(col)
    if fn == GroupBy.max:
        return F.max(c)
    if fn == GroupBy.min:
        return F.min(c)
    if fn == GroupBy.sum:
        return F.sum(c)
    if fn == GroupBy.product:
        return F.product(c)
    if fn == GroupBy.first:
        return F.first(c, ignorenulls=False)
    if fn == GroupBy.last:
        return F.last(c, ignorenulls=False)
    if fn == GroupBy.count:
        return F.count(F.lit(1))
    if fn == GroupBy.count_unique:
        return F.count_distinct(c)
    if fn == GroupBy.avg:
        return F.avg(c)
    if fn == GroupBy.stdev:
        return F.stddev_samp(c)
    if fn == GroupBy.median:
        return F.median(c)
    if fn == GroupBy.mode:
        return F.mode(c)
    raise ValueError(f"unknown groupby function: {fn}")


def groupby(df: DataFrame, keys: list[str],
            functions: list[tuple[str, str]] | None = None) -> DataFrame:
    """``t.groupby(keys, [(col, GroupBy.sum), ...])``.

    Output columns: keys + ``"{Function}({col})"`` per pair
    (reference naming: nimlite/funcs/groupby.nim:677-679).
    Keys-only -> distinct key tuples (groupby.nim:608-620).
    """
    functions = functions or []
    if not keys and not functions:
        raise ValueError("groupby needs keys and/or functions")
    if not functions:
        return df.select(*keys).distinct()
    aggs = [_accumulator(fn, col).alias(f"{fn}({col})") for col, fn in functions]
    if not keys:
        return df.agg(*aggs)
    return df.groupBy(*keys).agg(*aggs)


def pivot(df: DataFrame, rows: list[str], columns: list[str],
          functions: list[tuple[str, str]],
          values_as_rows: bool = False) -> DataFrame:
    """``t.pivot(rows, columns, functions)`` (tablite/pivots.py:11-182).

    Wide output: one column per distinct `columns` key combo, named
    ``"{Fn}({col},{c1}=v1,...)"``; sparse cells null. Spark's native
    ``.pivot()`` performs a single shuffle (groupBy rows+pivotcol then
    reshape) — the idiomatic plan at scale.
    """
    if not columns:
        raise ValueError("pivot needs at least one `columns` column")
    # composite pivot key "c1=v1|c2=v2" so multi-column pivots work
    pivot_key = F.concat_ws(
        "|", *[F.concat(F.lit(f"{c}="), F.col(c).cast("string")) for c in columns]
    ).alias("__pivot_key__")
    fn_cols = []
    for c, _ in functions:
        if c not in rows and c not in fn_cols:
            fn_cols.append(c)
    base = df.select(*rows, pivot_key, *fn_cols)
    aggs = [_accumulator(fn, col).alias(f"{fn}({col})") for col, fn in functions]
    wide = base.groupBy(*rows).pivot("__pivot_key__").agg(*aggs)
    if values_as_rows:
        # long format: melt the generated columns back into rows
        value_cols = [c for c in wide.columns if c not in rows]
        return melt(wide, ids=rows, values=value_cols,
                    variable_name="function", value_name="value")
    return wide


def melt(df: DataFrame, ids: list[str], values: list[str] | None = None,
         variable_name: str = "transpose", value_name: str = "value") -> DataFrame:
    """Wide→long (tablite ``pivot_transpose``, tablite/pivots.py:201-288).

    Spark 3.4+ has native ``DataFrame.melt`` (zero-shuffle: explodes in
    place, no aggregation).
    """
    values = values or [c for c in df.columns if c not in ids]
    return df.melt(ids=ids, values=values,
                   variableColumnName=variable_name, valueColumnName=value_name)


def transpose(df: DataFrame) -> DataFrame:
    """Full matrix rotation, first column becomes header
    (tablite/pivots.py:185-198). Inherently small-data: collects to the
    driver. Guarded so it cannot be misused on big frames.
    """
    # guard BEFORE collecting — limit(n+1) keeps the probe bounded, so
    # the driver OOM the guard prevents can't happen during the check
    if df.limit(10_001).count() > 10_000:
        raise ValueError("transpose() is a small-data operator (<=10k rows)")
    rows = df.collect()
    header_col = df.columns[0]
    other_cols = df.columns[1:]
    new_cols = [header_col] + [str(r[header_col]) for r in rows]
    out_rows = []
    for c in other_cols:
        out_rows.append(tuple([c] + [r[c] for r in rows]))
    spark = df.sparkSession
    return spark.createDataFrame(out_rows, schema=[str(c) for c in new_cols])


def check_k(k: int) -> None:
    """The ranked cut's ``k >= 1`` check. A top-k that runs jobs
    before it reaches :func:`top_k_per_group` calls it on entry."""
    if k < 1:
        raise ValueError("k must be >= 1")


def top_k_per_group(df: DataFrame, keys: list[str], order: list[Column],
                    k: int, engine: str = "window",
                    rank: str = "rank") -> DataFrame:
    """The first ``k`` rows of each ``keys`` group under ``order``:
    ``df``'s columns plus their 1-based ``row_number``, named
    ``rank``. This is the package's one ranked cut; every top-k
    calls it.

    ``order`` is the full sort, direction, NULL placement and
    tiebreak included; make it total within a group when the rows
    kept must not depend on partitioning. ``keys=[]`` cuts the whole
    frame (the window runs over ``partitionBy(lit(1))``).

    The two forms return the same rows under a total order:

    * ``engine='window'``: one ``row_number() OVER (PARTITION BY keys
      ORDER BY order)`` + filter. One shuffle into Tungsten's sort;
      the plan to use whenever each group fits one task.
    * ``engine='salted'``: the local-top-k-then-merge form for a
      group one task cannot sort (a hot key, a probe term that
      matches the whole corpus, or a global cut). Phase 1 ranks
      within (keys, input partition), ``spark_partition_id()`` being
      the salt, and keeps ``k`` per slice in many balanced tasks;
      phase 2 ranks the ≤ k × partitions survivors per group. A row
      of the group's true top-k is in the top-k of its own slice
      (pigeonhole), so phase 2 sees every row it must keep. Two
      exchanges, both sorts spillable.

    Ref parity: the reference sorts then slices
    (``tablite/sortation.py`` + slicing); this is the grouped,
    bounded-memory form of that idiom.
    """
    from pyspark.sql import Window
    check_k(k)
    if engine not in ("window", "salted"):
        raise ValueError(f"engine must be 'window' or 'salted', "
                         f"got {engine!r}")

    def cut(frame, by, name):
        w = Window.partitionBy(*by).orderBy(*order)
        return (frame.withColumn(name, F.row_number().over(w))
                .filter(F.col(name) <= k))

    by = [F.col(c) for c in keys]
    if engine == "window":
        return cut(df, by or [F.lit(1)], rank)
    s1 = cut(df.withColumn("__salt__", F.spark_partition_id()),
             [*by, F.col("__salt__")], "__rn1__")
    return cut(s1, by or [F.lit(1)], rank).drop("__salt__", "__rn1__")
