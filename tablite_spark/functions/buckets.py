"""Deterministic range bucketing — the cross-job-safe substitute for
``repartitionByRange`` when an operator needs TWO jobs to agree on
which rows share a partition (two-phase prefix sums, boundary
carry-in collects, …).

Spark's RangePartitioner seeds its bound sampling with the RDD id, so
two evaluations of the same ``repartitionByRange`` plan draw
DIFFERENT bounds; pinning the exchange with ``persist`` only holds
while every cache block survives — a lost executor silently
recomputes with new bounds. This module instead computes bounds once
on the driver and derives the bucket as a PURE FUNCTION of the key
value, which every job (and every task retry) agrees on by
construction. Validated by the 1M-doc ``pack_sequences`` run that
reproduced mis-stitched windows under the RangePartitioner (README
"Scale validation").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, LongType, NumericType


def range_bucket_bounds(df: DataFrame, keys: list[str],
                        n_buckets: int | None = None) -> list[list]:
    """Driver-computed ascending split points, one list per key in
    ``keys``. All numeric keys share one multi-column approxQuantile
    pass; the others share one count and one seeded sample. Default
    bucket count = ``spark.sql.shuffle.partitions``. Duplicates
    collapse — heavy hitters simply merge buckets, which costs
    balance, never correctness. One bucket needs no bounds."""
    if n_buckets is None:
        n_buckets = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
    if n_buckets < 2:
        return [[] for _ in keys]
    distinct = list(dict.fromkeys(keys))
    num = [k for k in distinct
           if isinstance(df.schema[k].dataType, NumericType)]
    other = [k for k in distinct if k not in num]
    found = {}
    if num:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        found.update(zip(num, df.stat.approxQuantile(num, qs, 0.01)))
    if other:
        frac = min(1.0, (n_buckets * 200) / max(df.count(), 1))
        rows = df.select(*other).sample(False, frac, seed=13).collect()
        for j, k in enumerate(other):
            samp = sorted(r[j] for r in rows if r[j] is not None)
            found[k] = [samp[int(len(samp) * i / n_buckets)]
                        for i in range(1, n_buckets)] if samp else []
    return [sorted(set(found[k])) for k in keys]


def bucket_expr(key: str, bounds: list) -> Column:
    """0-based bucket index of ``key`` given ascending, non-null
    ``bounds`` — monotone in the key, ties never split across
    buckets: index = count of bounds <= key (null key -> bucket 0;
    NaN -> |bounds|, matching Spark's NaN-greatest ordering).

    r15 optimization round (guide §1.2 per-task work): this was an
    interpreted higher-order ``F.aggregate`` over a literal array —
    O(|bounds|) boxed comparisons per row with NO codegen, the
    per-job floor of every census-prefix operator. Now a balanced
    WHEN-tree binary search: O(log |bounds|) primitive comparisons
    per row inside whole-stage codegen. Bit-identical to the old
    form by construction: every root-to-leaf path resolves to the
    same count-of-bounds<=key, and a null key fails every ``>=``
    test so it descends to the leftmost leaf (bucket 0), exactly
    the old null semantics."""
    if not bounds:
        return F.lit(0)
    k = F.col(key)

    def tree(lo: int, hi: int) -> Column:
        # bucket index for keys already narrowed to [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return (F.when(k >= F.lit(bounds[mid - 1]), tree(mid, hi))
                .otherwise(tree(lo, mid - 1)))

    return tree(0, len(bounds))


def with_range_bucket(df: DataFrame, key: str, pid_col: str,
                      n_buckets: int | None = None) -> DataFrame:
    """Attach a deterministic range-bucket column ``pid_col`` (0-based,
    monotone in ``key``). Default bucket count =
    ``spark.sql.shuffle.partitions``. Null keys land in bucket 0 with
    the smallest values (``>=`` against a null is never true)."""
    bounds, = range_bucket_bounds(df, [key], n_buckets)
    return df.withColumn(pid_col, bucket_expr(key, bounds))


def bucket_lookup(values: list, dtype: DataType,
                  bucket_col: str) -> Column:
    """``values[bucket_col]`` for per-bucket Python values: a dense
    array literal indexed by bucket id (ids are dense, 0..|bounds|),
    typed ``dtype`` so an empty list still analyzes, and read with
    ``get()`` so an out-of-range id — or any id of an empty census —
    is null instead of an error. O(1) per row."""
    arr = F.array(*[F.lit(v) for v in values]).cast(ArrayType(dtype))
    return F.get(arr, F.col(bucket_col))


def _running(per_bucket: dict) -> tuple[list, object]:
    """Exclusive running offsets of ``{bucket id: total}`` over the
    dense ids 0..max (a missing bucket adds nothing), and the grand
    total: the one offset loop of the census-prefix engine."""
    offsets, run = [], 0
    for b in range(max(per_bucket, default=-1) + 1):
        offsets.append(run)
        if b in per_bucket:
            run = run + per_bucket[b]
    return offsets, run


def prefix_sums(bucketed: DataFrame, bucket_col: str,
                order_cols: list, sums: dict) -> tuple[DataFrame, dict]:
    """The census-prefix step shared by every distributed running sum:
    over a frame already bucketed by :func:`with_range_bucket` on the
    first of ``order_cols``, add one column per ``{name: column}`` in
    ``sums`` holding its exact GLOBAL inclusive running sum in
    ``order_cols`` order. Returns (frame, ``{name: grand total}``).

    Each column is a per-bucket ``rowsBetween(unboundedPreceding,
    currentRow)`` window (rows/bucket ≈ N/|buckets|, never the global
    order on one task) plus the offset of everything in earlier
    buckets. ONE driver collect of the |buckets|-row per-bucket totals
    serves every requested sum. Offsets are a :func:`bucket_lookup`
    typed from the sum column: int counts stay exact int64, float sums
    (log-domain survival terms) stay doubles, and an empty census
    still analyzes.
    Exclusive sums are the caller's "inclusive minus own term".
    """
    per_bucket = bucketed.groupBy(bucket_col).agg(
        *[F.sum(c).alias(n) for n, c in sums.items()])
    types = {f.name: f.dataType for f in per_bucket.schema.fields}
    rows = per_bucket.collect()
    win = (Window.partitionBy(bucket_col).orderBy(*order_cols)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cols, totals = {}, {}
    for n, c in sums.items():
        offsets, totals[n] = _running({r[bucket_col]: r[n] for r in rows})
        cols[n] = (bucket_lookup(offsets, types[n], bucket_col)
                   + F.sum(c).over(win))
    return bucketed.withColumns(cols), totals


def distributed_row_number(df: DataFrame, orders: dict,
                           n_buckets: int | None = None
                           ) -> tuple[DataFrame, int]:
    """Global 1-based ``row_number`` of every row under each ordering
    in ``orders`` ({output column: order column NAMES, ascending}),
    WITHOUT a single-task global sort. Returns ``(df + one column per
    ordering, total_rows)``. Make each order unique (append a key
    column) or ties break arbitrarily within a bucket; for descending
    order materialize a negated column (exact for integer keys).

    All orderings share one bounds pass on their first columns and
    one offsets collect of the (ordering, bucket) row counts. Each
    then ranks in its own per-bucket window over range buckets of its
    first column, plus its bucket's offset: buckets are monotone in
    that column, so every rank is exact whatever the bounds are.
    """
    if not orders or not all(orders.values()):
        raise ValueError("distributed_row_number needs order columns")
    outs = list(orders)
    bounds = range_bucket_bounds(df, [orders[o][0] for o in outs],
                                 n_buckets)
    bcols = [f"__rnb{i}__" for i in range(len(outs))]
    b = df.withColumns({bc: bucket_expr(orders[o][0], bs)
                        for bc, o, bs in zip(bcols, outs, bounds)})
    census = b.select(F.inline(F.array(*[
        F.struct(F.lit(i).alias("o"), F.col(bc).alias("b"))
        for i, bc in enumerate(bcols)]))).groupBy("o", "b").count()
    counts = [{} for _ in outs]
    for r in census.collect():
        counts[r["o"]][r["b"]] = r["count"]
    ranks, n = {}, 0
    for o, bc, per_bucket in zip(outs, bcols, counts):
        offsets, n = _running(per_bucket)
        win = (Window.partitionBy(bc).orderBy(*orders[o])
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        ranks[o] = (bucket_lookup(offsets, LongType(), bc)
                    + F.sum(F.lit(1)).over(win))
    return b.withColumns(ranks).drop(*bcols), int(n)
