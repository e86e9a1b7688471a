"""Sorts, slices, reindex — order operators.

Reference semantics (tablite/sortation.py:17-163, sort_utils.py:135-264):
multi-key sort with per-key ``reverse`` bool and three collation modes
over MIXED-type columns:
- "excel":        numeric < text < bool < None
- "unix":         None < bool < numeric < text  (times/dates are numeric-like)
- "alphanumeric": everything compared as text

Spark columns are single-typed, so the cross-type machinery collapses
to null placement for typed columns; for genuinely mixed (string-coded)
columns we build a (type_rank, numeric_key, string_key) struct sort key
— structs compare lexicographically field-by-field in Spark, which
reproduces the reference's rank-tuple sort (sortation.py builds rank
dicts per column and sorts tuples of ranks).

Slicing: tablite ``t[start:stop:step]`` (tablite/base.py:1205-1287)
→ ``row_number()`` window filter; plain head slices use ``limit``
(no shuffle, no full scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin

SORT_MODES = ("excel", "unix", "alphanumeric")


def _mixed_sort_key(col: str, mode: str) -> list[Column]:
    """Cross-type sort key for a string-typed 'mixed' column.

    Emits [type_rank, numeric_value, text_value] columns; Spark sorts
    them left-to-right like the reference sorts its rank tuples.
    """
    c = F.col(col)
    num = c.try_cast("double")
    is_null = c.isNull()
    is_bool = F.lower(c).isin("true", "false")
    is_num = num.isNotNull() & ~is_bool
    if mode == "excel":
        # numeric(0) < text(1) < bool(2) < None(3)  (sort_utils.py:152-173)
        rank = (F.when(is_null, 3).when(is_bool, 2)
                .when(is_num, 0).otherwise(1))
    elif mode == "unix":
        # None(0) < bool(1) < numeric(2) < text(3)  (sort_utils.py:176-207)
        rank = (F.when(is_null, 0).when(is_bool, 1)
                .when(is_num, 2).otherwise(3))
    else:  # alphanumeric: everything as text (sort_utils.py:210-216)
        return [c.cast("string")]
    bool_key = F.when(is_bool, F.lower(c) == "true").cast("int")
    return [rank, F.when(is_num, num), bool_key, F.when(~is_num & ~is_bool, c)]


def detect_mixed_columns(df: DataFrame, cols: list[str]) -> set[str]:
    """Derive which string-typed columns carry MIXED values (some but
    not all parse as numeric/bool) — the reference derives this from
    its per-column dtype census (tablite/base.py:927-938); Spark
    columns are single-typed, so mixedness lives inside string columns
    and is probed with ONE column-pruned agg pass over the candidates.
    """
    dtypes = dict(df.dtypes)
    scols = [c for c in cols if dtypes.get(c) == "string"]
    if not scols:
        return set()
    aggs = []
    for c in scols:
        col = F.col(c)
        numish = col.try_cast("double").isNotNull() \
            | F.lower(col).isin("true", "false")
        aggs.append(F.count(col).alias(f"__n_{c}"))
        aggs.append(F.count(F.when(numish, 1)).alias(f"__m_{c}"))
    r = df.agg(*aggs).first()
    return {c for c in scols if 0 < r[f"__m_{c}"] < r[f"__n_{c}"]}


def sort(df: DataFrame, mapping: dict[str, bool], sort_mode: str = "excel",
         mixed_columns: set[str] | None = None,
         collation: str | None = None) -> DataFrame:
    """``Table.sort({col: reverse, ...}, sort_mode)``
    (tablite/core.py:406-432).

    Typed columns degrade to plain asc/desc with null placement per
    mode (excel: nulls last; unix: nulls first). ``mixed_columns``
    flags string columns that carry mixed values and need the
    cross-type struct key; ``None`` (default) auto-detects them via
    :func:`detect_mixed_columns` (one probe agg over the string sort
    columns — pass an explicit ``set()`` to skip the probe).

    ``collation``: an ICU collation name (``"UNICODE"``,
    ``"UNICODE_CI_AI"``, or a locale like ``"de"``) applied to string
    sort keys. ``"UNICODE"`` is the Unicode Collation Algorithm root
    order — the same ordering family the reference gets from pyUCA
    (tablite/sort_utils.py:222-264) — but evaluated by Spark's
    JVM-side ICU collator, so the sort stays codegen'd instead of
    detouring through a Python UDF per comparison. Default ``None``
    keeps binary UTF-8 order.
    """
    if sort_mode not in SORT_MODES:
        raise ValueError(f"sort_mode {sort_mode!r} not in {SORT_MODES}")
    if mixed_columns is None and sort_mode != "alphanumeric":
        mixed_columns = detect_mixed_columns(df, list(mapping))
    mixed_columns = mixed_columns or set()
    dtypes = dict(df.dtypes)

    def _collated(k: Column, name: str | None) -> Column:
        if collation and (name is None or dtypes.get(name) == "string"):
            return F.collate(k, collation)
        return k

    order = []
    for col, reverse in mapping.items():
        if col in mixed_columns:
            keys = _mixed_sort_key(col, sort_mode)
            # the text component of the struct key is the last element
            keys = keys[:-1] + [_collated(keys[-1], None)]
        else:
            keys = [_collated(F.col(col), col)]
        for k in keys:
            if reverse:
                order.append(k.desc_nulls_first() if sort_mode == "excel"
                             else k.desc_nulls_last())
            else:
                order.append(k.asc_nulls_last() if sort_mode == "excel"
                             else k.asc_nulls_first())
    return df.orderBy(*order)


def _pair_in_order(mapping: dict[str, bool], sort_mode: str,
                   prev_prefix: str, cur_prefix: str) -> Column:
    """Lexicographic 'prev row may precede cur row' predicate under the
    per-key direction and the mode's null placement (excel: nulls last
    on asc; unix/alphanumeric: nulls first on asc) — built from the
    last key backwards: ok_k = strictly_before_k OR (eq_k AND ok_k+1).
    """
    nulls_last_asc = sort_mode == "excel"
    ok = F.lit(True)
    for col, reverse in reversed(list(mapping.items())):
        p, c = F.col(f"{prev_prefix}{col}"), F.col(f"{cur_prefix}{col}")
        eq = p.eqNullSafe(c)
        asc_before = (
            ((c.isNull() & ~p.isNull()) if nulls_last_asc
             else (p.isNull() & ~c.isNull()))
            | F.coalesce(p < c, F.lit(False)))
        desc_before = (
            ((p.isNull() & ~c.isNull()) if nulls_last_asc
             else (c.isNull() & ~p.isNull()))
            | F.coalesce(p > c, F.lit(False)))
        before = desc_before if reverse else asc_before
        ok = before | (eq & ok)
    return ok


def is_sorted(df: DataFrame, mapping: dict[str, bool],
              sort_mode: str = "excel") -> bool:
    """``Table.is_sorted`` (tablite/sortation.py:165-177).

    Distributed total-order check: every adjacent row pair (by the
    partition-offset row index) must satisfy the lexicographic
    ordering. Adjacency comes from an equi join on ``rid == rid+1`` —
    one hash shuffle of the PRUNED (rid, sort keys) projection, no
    global single-task window."""
    rid = "__is_sorted_rid__"
    cols = list(dict.fromkeys(mapping))
    tagged = with_row_index(df.select(*cols), rid)
    prev = tagged.select(F.col(rid).alias("__rid__"),
                         *[F.col(c).alias(f"__p_{c}") for c in cols])
    cur = tagged.select((F.col(rid) - 1).alias("__rid__"),
                        *[F.col(c).alias(f"__c_{c}") for c in cols])
    ok = _pair_in_order(mapping, sort_mode, "__p_", "__c_")
    bad = (prev.join(cur, "__rid__")
           .filter(~F.coalesce(ok, F.lit(False))).count())
    return bad == 0


_MID_SUB_MASK = (1 << 33) - 1  # monotonically_increasing_id low 33 bits


def with_row_index(df: DataFrame, name: str = "__row_id__",
                   order_by: list[str] | None = None) -> DataFrame:
    """Stable 0-based row index.

    With ``order_by``: a global row_number (total order was explicitly
    requested, so the single-reducer window is inherent).

    Without: true zipWithIndex — ``monotonically_increasing_id`` packs
    (partition id << 33 | in-partition offset), so one tiny count-agg
    (|partitions| rows) yields cumulative offsets that are broadcast
    back and added to the in-partition offset. No row ever crosses the
    network; the extra cost is one count job, exactly like
    ``RDD.zipWithIndex``. Preserves on-disk order and scales linearly
    (this underpins slice/reindex/unique_index/positional setitem)."""
    if order_by:
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return df.withColumn(name, F.row_number().over(w) - 1)
    mid = "__wri_mid__"
    pid = "__wri_pid__"
    tagged = df.withColumn(mid, F.monotonically_increasing_id())
    counts = (tagged
              .select(F.shiftrightunsigned(F.col(mid), 33).alias(pid))
              .groupBy(pid).agg(F.count(F.lit(1)).alias("__wri_cnt__"))
              .collect())
    counts.sort(key=lambda r: r[pid])
    offsets, acc = [], 0
    for r in counts:
        offsets.append((r[pid], acc))
        acc += r["__wri_cnt__"]
    if not offsets:  # empty frame: no rows to index
        return df.withColumn(name, F.lit(None).cast("long"))
    sub = F.col(mid).bitwiseAND(F.lit(_MID_SUB_MASK))
    pid_expr = F.shiftrightunsigned(F.col(mid), 33)
    max_pid = offsets[-1][0]
    if max_pid < 4096:
        # r14 optimization round (guide §2.4): the offsets are a tiny
        # pid-indexed table — attach them as a constant-folded literal
        # array lookup instead of a broadcast hash join. The join node
        # (and its per-row hash probe + build broadcast) disappears
        # from the plan; identical values. Gaps = empty partitions,
        # whose slots are never probed (no rows carry that pid).
        arr, it = [0] * (max_pid + 1), iter(offsets)
        for p, off in it:
            arr[p] = off
        lookup = F.array(*[F.lit(o) for o in arr])
        return (tagged
                .withColumn(name, F.element_at(
                    lookup, pid_expr.cast("int") + 1) + sub)
                .drop(mid))
    off_df = df.sparkSession.createDataFrame(
        offsets, schema=f"{pid} long, __wri_off__ long")
    return (tagged
            .withColumn(pid, pid_expr)
            .join(F.broadcast(off_df), pid)
            .withColumn(name, F.col("__wri_off__") + sub)
            .drop(pid, "__wri_off__", mid))


_INDEXED_SLICE_MAX_HITS = 100_000


def slice_rows(df: DataFrame, start: int | None = None,
               stop: int | None = None, step: int | None = 1,
               order_by: list[str] | None = None,
               index_col: str | None = None) -> DataFrame:
    """``t[start:stop:step]`` (tablite/base.py:1205-1287), python list
    slice semantics exactly — including negative bounds and steps
    (reference tests/test_slice_rules.py).

    Fast paths: ``t[:n]`` → limit(n) (no shuffle); stepped/offset slices
    rank rows then filter — one narrow shuffle, arithmetic filter.

    ``index_col``: name of a PERSISTED dense 0-based row index column
    (e.g. written by ``with_row_index`` before save); mutually
    exclusive with ``order_by`` (raises). Positive-step indexed slices
    return UNORDERED rows (selection is a pushed-down predicate, not a
    sort); negative steps orderBy the index descending for python slice
    parity. The slice then
    never ranks: sparse slices (≤ ``_INDEXED_SLICE_MAX_HITS`` hits)
    become an ``IN``-list predicate pushed into the parquet scan, where
    row-group stats and page column-indexes prune everything but the
    hit pages — O(hits) IO, the same pruning the reference gets from
    its fixed-size page store (tablite benchmarks.ipynb cell 30: 20
    hits in 50M rows without touching the other pages). Dense slices
    fall back to an arithmetic range+modulo filter on the index column
    — still a single scan with no ranking pass. Row count comes from
    ``df.count()`` (metadata-only on parquet).
    """
    step = 1 if step is None else step
    if step == 0:
        raise ValueError("slice step cannot be 0")
    if index_col is not None and order_by:
        # the indexed fast path selects by the PERSISTED index, so an
        # order_by would be silently ignored (and positive-step results
        # are intentionally unordered — pruning over sorting)
        raise ValueError(
            "slice_rows: order_by and index_col are mutually exclusive — "
            "the indexed path slices by the persisted index; orderBy the "
            "result explicitly if an output order is needed")
    if index_col is not None:
        n = df.count()
        first, last_excl, st = slice(start, stop, step).indices(n)
        hits = range(first, last_excl, st)
        c = F.col(index_col)
        if len(hits) == 0:
            return df.filter(F.lit(False))
        if len(hits) <= _INDEXED_SLICE_MAX_HITS:
            out = df.filter(c.isin(*hits))
        elif st > 0:
            out = df.filter((c >= first) & (c < last_excl)
                            & ((c - first) % st == 0))
        else:
            out = df.filter((c <= first) & (c > last_excl)
                            & ((F.lit(first) - c) % (-st) == 0))
        return out.orderBy(c.desc()) if st < 0 else out
    if start in (None, 0) and step == 1 and stop is not None and stop >= 0 \
            and order_by is None:
        return df.limit(stop)
    idx = "__slice_idx__"
    ranked = with_row_index(df, idx, order_by=order_by)
    if (start is not None and start < 0) or (stop is not None and stop < 0) \
            or step < 0:
        # python-list slice parity (reference tests/test_slice_rules.py):
        # negative bounds/steps need the row count to normalize — one
        # cheap count() over the (columnar, pruned) scan, then the rows
        # are selected by pure arithmetic on the row index; for step<0
        # the result order is descending by index.
        n = df.count()
        first, last_excl, st = slice(start, stop, step).indices(n)
        if st > 0:
            cond = (F.col(idx) >= first) & (F.col(idx) < last_excl) \
                & ((F.col(idx) - first) % st == 0)
            return ranked.filter(cond).drop(idx)
        cond = (F.col(idx) <= first) & (F.col(idx) > last_excl) \
            & ((F.lit(first) - F.col(idx)) % (-st) == 0)
        return ranked.filter(cond).orderBy(F.col(idx).desc()).drop(idx)
    start = start or 0
    cond = F.col(idx) >= start
    if stop is not None:
        cond = cond & (F.col(idx) < stop)
    if step != 1:
        cond = cond & ((F.col(idx) - start) % step == 0)
    return ranked.filter(cond).drop(idx)


def reindex(df: DataFrame, index: list[int],
            order_by: list[str] | None = None) -> DataFrame:
    """Reorder/project rows by integer positions (tablite/core.py:375-392);
    -1 → all-null row. Implemented as a join against a (position,
    new_order) frame — distributed, unlike the reference's np.take."""
    spark = df.sparkSession
    pos_df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(index)], schema="__new__ long, __old__ long")
    idx = "__reindex_idx__"
    ranked = with_row_index(df, idx, order_by=order_by)
    joined = pos_df.join(ranked, pos_df["__old__"] == ranked[idx], "left")
    return joined.orderBy("__new__").drop("__new__", "__old__", idx)


def unique_index(df: DataFrame, keys: list[str],
                 order_by: list[str] | None = None) -> DataFrame:
    """First-occurrence row per key tuple (tablite/base.py:1967-1989).

    min(row_id) per key via a partial-aggregable groupBy + semi-join
    on the winning row ids — map-side combine absorbs hot keys, where
    a rank window would serialize each key's rows through one task.

    The ranked frame is pinned (eager localCheckpoint) before the
    self-join: the groupBy branch and the semi-join branch would
    otherwise re-evaluate the row-index assignment independently, and a
    task retry between them could diverge the ids (silently dropping or
    duplicating winners). The materialization cost is the price of a
    deterministic first-occurrence answer."""
    idx = "__uidx__"
    ranked = pin(with_row_index(df, idx, order_by=order_by), eager=True)
    winners = ranked.groupBy(*keys).agg(F.min(idx).alias(idx))
    return (ranked.join(winners.select(idx), on=idx, how="left_semi")
            .drop(idx))
