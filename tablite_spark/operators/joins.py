"""Joins — equi joins with null-safe keys, collision renaming,
merge_keys, plus the reference's two special joins (lookup, match).

Reference semantics:
- ``Table.join(other, left_keys, right_keys, ..., kind)`` with kinds
  inner/left/outer(=full)/cross (tablite/core.py:735-749,
  tablite/joins.py:16-131).
- **None is a joinable key** — None==None matches (tablite/joins.py:
  201-210, tests/test_join.py:16-41) → Spark ``eqNullSafe``.
- Right-side columns colliding with left names get a ``_1`` suffix
  (tablite/utils.py:41-52 ``unique_name``).
- ``merge_keys=True`` coalesces left/right key pairs into one column
  (tablite/joins.py:524-562).
- ``lookup`` = first-match theta join (tablite/lookup.py:14-110).
- ``match`` = equi join keeping first right match (tablite/match.py:6-102).

Spark-first: Catalyst/AQE pick broadcast / shuffled-hash / sort-merge;
we only shape the condition and output columns. ``lookup`` becomes a
non-equi join + window rank — the scalable form of the reference's
O(n*m) nested loop.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin

_KINDS = {"inner": "inner", "left": "left", "outer": "full", "full": "full",
          "cross": "cross"}


def unique_name(wanted: str, taken) -> str:
    """``name`` → ``name_1`` → ``name_2`` … (tablite/utils.py:41-52)."""
    if wanted not in taken:
        return wanted
    i = 1
    while f"{wanted}_{i}" in taken:
        i += 1
    return f"{wanted}_{i}"


def join(left: DataFrame, right: DataFrame,
         left_keys: list[str] | None, right_keys: list[str] | None,
         left_columns: list[str] | None = None,
         right_columns: list[str] | None = None,
         kind: str = "inner", merge_keys: bool = False) -> DataFrame:
    if kind not in _KINDS:
        raise ValueError(f"join kind {kind!r} not in {sorted(_KINDS)}")
    how = _KINDS[kind]
    left_columns = left_columns if left_columns is not None else left.columns
    right_columns = right_columns if right_columns is not None else right.columns

    L = left.alias("__l__")
    R = right.alias("__r__")

    if how == "cross":
        joined = L.crossJoin(R)
    else:
        conds = [
            F.col(f"__l__.{lk}").eqNullSafe(F.col(f"__r__.{rk}"))
            for lk, rk in zip(left_keys, right_keys)
        ]
        joined = L.join(R, on=reduce(Column.__and__, conds), how=how)

    # output projection with reference collision renaming
    out, taken = [], []
    for c in left_columns:
        name = unique_name(c, taken)
        taken.append(name)
        out.append(F.col(f"__l__.{c}").alias(name))
    for c in right_columns:
        name = unique_name(c, taken)
        taken.append(name)
        out.append(F.col(f"__r__.{c}").alias(name))
    result = joined.select(*out)

    if merge_keys and how in ("left", "full") and left_keys:
        # coalesce left/right key pairs into the left name
        # (tablite/joins.py:524-562); map right key -> its output name
        seen = []
        for c in left_columns:
            seen.append(unique_name(c, seen))
        right_out = {}
        for c in right_columns:
            n = unique_name(c, seen)
            seen.append(n)
            right_out[c] = n
        for lk, rk in zip(left_keys, right_keys):
            if lk in left_columns and rk in right_out and right_out[rk] != lk:
                result = result.withColumn(
                    lk, F.coalesce(F.col(lk), F.col(right_out[rk]))
                ).drop(right_out[rk])
    return result


_THETA_OPS: dict[str, Callable[[Column, Column], Column]] = {
    "==": lambda a, b: a.eqNullSafe(b),
    "!=": lambda a, b: ~a.eqNullSafe(b),
    "<": Column.__lt__,
    "<=": Column.__le__,
    ">": Column.__gt__,
    ">=": Column.__ge__,
    "in": lambda a, b: b.cast("string").contains(a.cast("string")),
    "not in": lambda a, b: ~b.cast("string").contains(a.cast("string")),
}


def lookup(left: DataFrame, right: DataFrame,
           *criteria: tuple, all: bool = True) -> DataFrame:
    """First-match theta join (tablite/core.py:813-832,
    tablite/lookup.py:14-110).

    Each criterion is ``(left_operand, op, right_operand)`` where a
    string names a column on its side and any other value is a literal.
    ``all`` combines criteria with AND (the reference's ALL) vs OR
    (ANY) — tablite/lookup.py:20 — NOT "keep all matches": the result
    always attaches the FIRST right row (in right's original order)
    per left row; unmatched → nulls.

    Scalable plan: tag both sides with row ids, non-equi join, then
    take min(struct(right_id, right_row)) per left id — an aggregation,
    so Spark does map-side partial combining (a window rank would
    shuffle every matched pair). When one criterion is an equality,
    Spark plans the join as equi with the rest as post-filters;
    pure-theta degrades to broadcast nested loop — same asymptotics as
    the reference's scan, but distributed.
    """
    lid, rid = "__lookup_lid__", "__lookup_rid__"
    Lw = left.withColumn(lid, F.monotonically_increasing_id()).alias("__l__")
    Rw = right.withColumn(rid, F.monotonically_increasing_id()).alias("__r__")

    conds = []
    for c_left, op, c_right in criteria:
        lcol = F.col(f"__l__.{c_left}") if isinstance(c_left, str) and c_left in left.columns else F.lit(c_left)
        rcol = F.col(f"__r__.{c_right}") if isinstance(c_right, str) and c_right in right.columns else F.lit(c_right)
        if callable(op):
            conds.append(F.udf(lambda a, b, f=op: bool(f(a, b)), "boolean")(lcol, rcol))
        else:
            conds.append(_THETA_OPS[op](lcol, rcol))
    cond = reduce(Column.__and__ if all else Column.__or__, conds)

    joined = Lw.join(Rw, on=cond, how="left")
    # first match = min over (right_id, payload) structs; unmatched rows
    # contribute NULL (struct guarded on rid) so min() skips them
    best_struct = F.when(
        F.col(f"__r__.{rid}").isNotNull(),
        F.struct(F.col(f"__r__.{rid}").alias("rid"),
                 *[F.col(f"__r__.{c}").alias(f"c{i}")
                   for i, c in enumerate(right.columns)]))
    aggs = [F.first(F.col(f"__l__.{c}")).alias(f"l{i}")
            for i, c in enumerate(left.columns)]
    grouped = (joined.groupBy(F.col(f"__l__.{lid}"))
               .agg(*aggs, F.min(best_struct).alias("__best__")))

    out, taken = [], []
    for i, c in enumerate(left.columns):
        n = unique_name(c, taken); taken.append(n)
        out.append(F.col(f"l{i}").alias(n))
    for i, c in enumerate(right.columns):
        n = unique_name(c, taken); taken.append(n)
        out.append(F.col(f"__best__.c{i}").alias(n))
    return grouped.select(*out)


def match(left: DataFrame, right: DataFrame, keys: list[tuple[str, str]],
          keep_left: list[str] | None = None,
          keep_right: list[str] | None = None) -> DataFrame:
    """Inner semi-style equi join attaching the first matching right row
    (tablite/core.py:834-852, tablite/match.py:6-102 — '==' only).

    Spark plan: dedup the right side on its keys (keeps one row per
    key — matching the reference's first-index semantics when the
    right side is ordered), then a plain inner join. With
    ``keep_right=[]`` this is exactly a left-semi join and is planned
    as one (no right payload shuffled).
    """
    keep_left = left.columns if keep_left is None else keep_left
    keep_right = right.columns if keep_right is None else keep_right
    lkeys = [k for k, _ in keys]
    rkeys = [k for _, k in keys]

    if not keep_right:
        cond = reduce(Column.__and__, [
            left[lk].eqNullSafe(right[rk]) for lk, rk in keys
        ])
        return left.join(right, on=cond, how="left_semi").select(*keep_left)

    rid = "__match_rid__"
    # pin the id assignment: the groupBy branch and the semi-join branch
    # below would otherwise re-evaluate monotonically_increasing_id
    # independently — a task retry or scan-split change between the two
    # evaluations silently drops/duplicates rows. localCheckpoint
    # materializes the (small, lookup-side) tagged frame once so both
    # branches read identical ids.
    tagged = pin(right.withColumn(rid, F.monotonically_increasing_id()),
                 eager=True)
    first = tagged.groupBy(*rkeys).agg(F.min(rid).alias(rid))
    r1 = tagged.join(first.select(rid), on=rid, how="left_semi").drop(rid)
    L, R = left.alias("__l__"), r1.alias("__r__")
    cond = reduce(Column.__and__, [
        F.col(f"__l__.{lk}").eqNullSafe(F.col(f"__r__.{rk}")) for lk, rk in keys
    ])
    joined = L.join(R, on=cond, how="inner")
    out, taken = [], []
    for c in keep_left:
        n = unique_name(c, taken); taken.append(n)
        out.append(F.col(f"__l__.{c}").alias(n))
    for c in keep_right:
        n = unique_name(c, taken); taken.append(n)
        out.append(F.col(f"__r__.{c}").alias(n))
    return joined.select(*out)


def asof_join(left: DataFrame, right: DataFrame, on: str,
              by: list[str] | None = None,
              direction: str = "backward",
              right_cols: list[str] | None = None) -> DataFrame:
    """As-of join: for each left row, the single right row with the
    greatest ``on`` <= left's (``backward``) or smallest ``on`` >=
    left's (``forward``), optionally within ``by`` groups.

    The reference expresses this shape with ``lookup`` and inequality
    criteria (README bus-timetable example; tablite/lookup.py:14-110) —
    an O(n*m) scan there. Spark-first scalable form: NO join at all.
    Tag both sides, union, and carry the last-seen right payload over a
    window ordered by (time, side) within each ``by`` partition — right
    rows sort before left rows at equal time, so ties match. ONE
    shuffle on the group keys, linear in rows, no candidate blowup.

    Ties among right rows with identical ``on`` are resolved
    INTERNALLY and deterministically: the right side is reduced to one
    row per (by..., on) keeping the greatest payload struct (struct
    comparison is lexicographic over ``right_cols``) — a
    partial-aggregable groupBy, so tie handling never depends on
    partition or arrival order.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    by = by or []
    right_cols = right_cols or [
        c for c in right.columns if c not in set(by) | {on}]
    collide = set(right_cols) & set(left.columns)
    if collide:
        raise ValueError(f"right_cols collide with left columns: {collide}")
    pay = F.struct(*[F.col(c) for c in right_cols])
    r2 = (right.select(*by, F.col(on).alias("__asof_t__"),
                       pay.alias("__asof_pay__"))
          .groupBy(*by, "__asof_t__")
          .agg(F.max("__asof_pay__").alias("__asof_pay__"))
          .withColumn("__asof_src__", F.lit(0)))
    l2 = left.withColumn("__asof_t__", F.col(on)) \
             .withColumn("__asof_src__", F.lit(1))
    u = l2.unionByName(r2, allowMissingColumns=True)
    t_order = (F.col("__asof_t__").asc() if direction == "backward"
               else F.col("__asof_t__").desc())
    w = (Window.partitionBy(*[F.col(c) for c in by])
         .orderBy(t_order, F.col("__asof_src__").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = F.last(F.col("__asof_pay__"), ignorenulls=True).over(w)
    out = (u.withColumn("__asof_pay__", carried)
           .filter(F.col("__asof_src__") == 1))
    return out.select(*left.columns,
                      *[F.col(f"__asof_pay__.{c}").alias(c)
                        for c in right_cols])


def range_join(left: DataFrame, right: DataFrame, value_col: str,
               lo_col: str, hi_col: str, by: list[str] | None = None,
               bin_width: float | None = None) -> DataFrame:
    """Interval containment join: left rows where ``value_col`` falls in
    right's ``[lo_col, hi_col]`` (the reference reaches this shape with
    ``lookup`` over two inequality criteria — an O(n*m) scan).

    OSS Spark plans a raw inequality join as a broadcast-nested-loop /
    cartesian product; the scalable form bins the number line: each
    right interval explodes to the bins it covers, left rows hash to
    their bin, and an EQUI join on (by…, bin) + an exact containment
    filter yields the result. Replication factor ≈ interval_width /
    bin_width + 1; the default bin_width = mean interval width (one
    tiny agg) keeps it ~2×. All hash-join machinery — AQE, skew
    splitting, codegen — applies.
    """
    by = by or []
    if bin_width is None:
        est = right.agg(F.avg(F.col(hi_col) - F.col(lo_col))).first()[0]
        bin_width = float(est) if est else 1.0
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    l2 = left.withColumn(
        "__rj_bin__", F.floor(F.col(value_col) / F.lit(bin_width)).cast("long"))
    r2 = right.withColumn(
        "__rj_bin__", F.explode(F.sequence(
            F.floor(F.col(lo_col) / F.lit(bin_width)).cast("long"),
            F.floor(F.col(hi_col) / F.lit(bin_width)).cast("long"))))
    L, R = l2.alias("__l__"), r2.alias("__r__")
    cond = F.col("__l__.__rj_bin__") == F.col("__r__.__rj_bin__")
    for k in by:
        cond = cond & F.col(f"__l__.{k}").eqNullSafe(F.col(f"__r__.{k}"))
    joined = (L.join(R, on=cond)
              .filter((F.col(f"__l__.{value_col}") >= F.col(f"__r__.{lo_col}"))
                      & (F.col(f"__l__.{value_col}") <= F.col(f"__r__.{hi_col}"))))
    out, taken = [], []
    for c in left.columns:
        n = unique_name(c, taken); taken.append(n)
        out.append(F.col(f"__l__.{c}").alias(n))
    for c in right.columns:
        if c in by:
            continue
        n = unique_name(c, taken); taken.append(n)
        out.append(F.col(f"__r__.{c}").alias(n))
    return joined.select(*out)
