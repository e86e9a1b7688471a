"""Filters / predicates — declarative Column masks, twin pass/fail output.

Reference semantics:
- ``Table.filter(expressions, filter_type)`` takes a list of dict
  triples ``{column1|value1, criteria, column2|value2}`` with ops
  ``> >= == < <= != in`` and returns a ``(true_table, false_table)``
  PAIR (tablite/core.py:343-364 → tablite/redux.py:350-400 →
  nimlite/funcs/filter.nim:84-308).
- ``in`` is SUBSTRING containment — ``str(value1) in str(value2)``
  (tablite/mp_utils.py:13-18) — NOT SQL IN.
- String form compiles a python expression over column names
  (tablite/redux.py:12-32); Spark's SQL parser is a superset, so the
  string path is `F.expr` after a tiny normalization.

Spark-first: build ONE boolean Column mask; pass = df.filter(mask),
fail = df.filter(~mask). Catalyst pushes both down to the scan; at
scale the twin output is two pushed-down scans of the same parquet
(or one cached scan if the caller persists).
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_OPS = {">", ">=", "==", "<", "<=", "!=", "in", "not in"}


def _operand(df: DataFrame, expr: dict, side: int) -> Column:
    """column{side} takes precedence over value{side} (reference:
    nimlite/funcs/filter.nim:107-202 builds ExpressionValue the same way)."""
    col_key, val_key = f"column{side}", f"value{side}"
    if col_key in expr and expr[col_key] is not None:
        return F.col(expr[col_key])
    if val_key in expr:
        return F.lit(expr[val_key])
    raise ValueError(f"expression needs {col_key} or {val_key}: {expr}")


def _triple_to_column(df: DataFrame, expr: dict) -> Column:
    left = _operand(df, expr, 1)
    right = _operand(df, expr, 2)
    op = expr["criteria"]
    if op == ">":
        return left > right
    if op == ">=":
        return left >= right
    if op == "==":
        return left == right
    if op == "<":
        return left < right
    if op == "<=":
        return left <= right
    if op == "!=":
        return left != right
    if op == "in":
        # substring containment: str(left) in str(right)
        return right.cast("string").contains(left.cast("string"))
    if op == "not in":
        return ~right.cast("string").contains(left.cast("string"))
    raise ValueError(f"unknown criteria {op!r}; expected one of {_OPS}")


def mask_from_expressions(df: DataFrame, expressions: list[dict],
                          filter_type: str = "all") -> Column:
    if filter_type not in ("all", "any"):
        raise ValueError("filter_type must be 'all' or 'any'")
    cols = [_triple_to_column(df, e) for e in expressions]
    if not cols:
        return F.lit(True)
    op = Column.__and__ if filter_type == "all" else Column.__or__
    return reduce(op, cols)


_ALL_ANY_RE = re.compile(r"^\s*(all|any)\s*\(\((.*)\)\)\s*$", re.DOTALL)


def normalize_expression(expression: str) -> str:
    """Translate tablite's python-expression dialect into Spark SQL.

    Handles ``"all((a>=3, b<=20))"`` / ``"any((...))"`` forms
    (tablite/redux.py:12-32) and python's ``==``/``and``/``or`` which
    Spark SQL already accepts.
    """
    m = _ALL_ANY_RE.match(expression)
    if m:
        joiner = " AND " if m.group(1) == "all" else " OR "
        # split on top-level commas only — "all((f(a,b)>1, c<2))" must
        # not break inside the call's argument list
        parts, depth, cur = [], 0, []
        for ch in m.group(2):
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur)); cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        parts = [p.strip() for p in parts if p.strip()]
        return joiner.join(f"({p})" for p in parts)
    return expression


def mask_from_string(expression: str, df: DataFrame | None = None,
                     namespace: dict | None = None) -> Column:
    """String-expression mask. Fast path: Spark SQL (`F.expr`) — fully
    pushed down. Fallback (reference parity, tablite/utils.py:55-83):
    python-syntax expressions the SQL dialect rejects (``**``, python
    builtins, user functions via ``namespace``) are AST-compiled into
    ``f(<referenced columns>)`` and evaluated through an Arrow-batched
    pandas UDF — the documented slow path, only taken when SQL can't
    express the predicate."""
    try:
        mask = F.expr(normalize_expression(expression))
        if df is not None:
            df.select(mask)  # force analysis → unresolved names/functions raise
        return mask
    except Exception:
        if df is None:
            raise
        return python_expression_mask(df, expression, namespace)


def python_expression_mask(df: DataFrame, expression: str,
                           namespace: dict | None = None) -> Column:
    """Compile a python expression over column names into a row
    predicate (tablite/utils.py:55-83 semantics: referenced columns
    become function parameters; other names resolve from ``namespace``
    or builtins)."""
    import ast

    from pyspark.sql.functions import pandas_udf

    tree = ast.parse(expression, mode="eval")
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    cols = [c for c in df.columns if c in names]
    if not cols:
        raise ValueError(
            f"expression {expression!r} references no columns of {df.columns}")
    src = f"def __f__({', '.join(cols)}):\n    return {expression}"
    ns = dict(namespace or {})
    exec(compile(ast.parse(src), "<expression>", "exec"), ns)
    f = ns["__f__"]

    def _batch(*series, _f=f):
        import pandas as pd
        return pd.Series([bool(_f(*vals)) for vals in zip(*series)])

    return pandas_udf(_batch, "boolean")(*[F.col(c) for c in cols])


def filter_pass_fail(df: DataFrame, expressions: list[dict] | str,
                     filter_type: str = "all") -> tuple[DataFrame, DataFrame]:
    """``Table.filter`` twin output (tablite/core.py:343-364).

    Two filtered plans over the source: Catalyst pushes each predicate
    into its own scan, and a parquet/cached source reads twice but
    cheaply (column-pruned, predicate-paged). Nothing is pinned, so no
    call leaves cached blocks behind; a caller that reads both sides
    of an expensive upstream pins it itself
    (:func:`tablite_spark.plans.lifecycle.pin`). (SURVEY §7 hard part
    4: the reference writes both sides in one pass by construction;
    Spark's equivalent is plan reuse via persist, not a custom sink.)
    """
    if isinstance(expressions, str):
        mask = mask_from_string(expressions, df)
    else:
        mask = mask_from_expressions(df, expressions, filter_type)
    # null mask (e.g. comparison against NULL) goes to the fail side,
    # matching the reference where a non-True evaluation fails the row.
    return df.filter(mask), df.filter(~F.coalesce(mask, F.lit(False)))


def any_all(df: DataFrame, criteria: dict[str, Any], mode: str = "all") -> DataFrame:
    """``Table.any(**kw)`` / ``Table.all(**kw)`` (tablite/core.py:441-481).

    Values may be literals (equality) or python callables. Callables
    still run python per value (reference parity — arbitrary
    predicates), but through an Arrow-batched pandas_udf: one
    serialization round-trip per batch instead of per row (~10x less
    overhead than a row UDF; still the documented slow path vs native
    expressions).
    """
    from pyspark.sql.functions import pandas_udf

    masks = []
    for col, v in criteria.items():
        if callable(v):
            def _batch(s, f=v):
                return s.apply(lambda x, g=f: bool(g(x)))
            masks.append(pandas_udf(_batch, "boolean")(F.col(col)))
        else:
            masks.append(F.col(col).eqNullSafe(F.lit(v)) if v is None else F.col(col) == F.lit(v))
    op = Column.__and__ if mode == "all" else Column.__or__
    return df.filter(reduce(op, masks))


_NUMERIC_SPARK = {"tinyint", "smallint", "int", "bigint", "float", "double",
                  "decimal"}


def _value_matches_dtype(v: Any, dtype: str) -> bool:
    """Type-strict containment (reference counts True != 1): a value can
    only occur in a column whose Spark type can hold it."""
    base = dtype.split("(")[0]
    if isinstance(v, bool):
        return base == "boolean"
    if isinstance(v, (int, float)):
        return base in _NUMERIC_SPARK
    if isinstance(v, str):
        return base == "string"
    return True


def drop_rows_with(df: DataFrame, *values: Any) -> DataFrame:
    """``Table.drop(*values)`` — remove rows containing any of the given
    values in ANY column (tablite/core.py:483-498). Type-strict: a
    string value never matches a numeric column (and never errors under
    ANSI casting)."""
    non_null = [v for v in values if v is not None]
    has_null = any(v is None for v in values)
    masks = []
    for c, dtype in df.dtypes:
        vals = [v for v in non_null if _value_matches_dtype(v, dtype)]
        if vals:
            masks.append(F.col(c).isin(vals))
        if has_null:
            masks.append(F.col(c).isNull())
    if not masks:
        return df
    bad = reduce(Column.__or__, masks)
    return df.filter(~F.coalesce(bad, F.lit(False)))


def replace_values(df: DataFrame, mapping: dict, columns: list[str] | None = None) -> DataFrame:
    """``Table.replace(mapping, columns)`` (tablite/core.py:500-528)."""
    return df.replace(mapping, subset=columns)


def drop_duplicates(df: DataFrame, *columns: str) -> DataFrame:
    """Dedup on given (or all) columns, keep-first semantics
    (tablite/core.py:394-404). Spark's dropDuplicates keeps an arbitrary
    row per key — callers needing strict first-occurrence order should
    use ``unique_index`` (sorting.py) with an explicit row id."""
    return df.dropDuplicates(list(columns) if columns else None)
