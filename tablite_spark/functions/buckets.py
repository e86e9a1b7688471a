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

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def range_bucket_bounds(df: DataFrame, key: str,
                        n_buckets: int) -> list:
    """Driver-computed ascending split points for ``key`` (one
    approxQuantile pass for numeric keys, a seeded sample otherwise).
    Duplicates collapse — heavy hitters simply merge buckets, which
    costs balance, never correctness."""
    if isinstance(df.schema[key].dataType, NumericType):
        qs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.stat.approxQuantile(key, qs, 0.01)
    else:
        cnt = df.select(key).count()
        frac = min(1.0, (n_buckets * 200) / max(cnt, 1))
        samp = sorted(r[0] for r in df.select(key)
                      .sample(False, frac, seed=13).collect()
                      if r[0] is not None)
        bounds = [samp[int(len(samp) * i / n_buckets)]
                  for i in range(1, n_buckets)] if samp else []
    return sorted(set(bounds))


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
    if n_buckets is None:
        n_buckets = int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "200"))
    bounds = range_bucket_bounds(df, key, n_buckets)
    return df.withColumn(pid_col, bucket_expr(key, bounds))


def bucket_prefix_offsets(cens: DataFrame, bucket_col: str,
                          sums: dict) -> tuple[dict, dict]:
    """The distributed-prefix-sum offset step shared by every
    census-ranking operator (spearman / KS / AUC / Kaplan-Meier /
    Gini): collect ONE |buckets|-row aggregate of the given
    ``{name: column}`` sums, fold each into ascending-bucket running
    offsets, and return (``{name: map-literal Column}`` mapping
    bucket id -> offset of everything in EARLIER buckets,
    ``{name: grand total}``). Offsets keep their native type (int
    counts stay exact int64 literals; float sums — e.g. log-domain
    survival terms — stay doubles), so downstream arithmetic loses
    nothing. One driver collect, bounded by the bucket count, serves
    every requested sum at once.
    """
    aggs = [F.sum(c).alias(n) for n, c in sums.items()]
    rows = cens.groupBy(bucket_col).agg(*aggs).collect()
    rows.sort(key=lambda r: r[bucket_col])
    maps, totals = {}, {}
    for n in sums:
        off, run = {}, 0
        for r in rows:
            off[r[bucket_col]] = run
            run = run + r[n]
        if isinstance(run, float):   # float sums: homogeneous map
            off = {b: float(o) for b, o in off.items()}
        maps[n] = F.create_map(*[x for b, o in off.items()
                                 for x in (F.lit(b), F.lit(o))])
        totals[n] = run
    return maps, totals


def distributed_row_number(df: DataFrame, order_cols: list[str],
                           out_col: str = "rank",
                           n_buckets: int | None = None
                           ) -> tuple[DataFrame, int]:
    """Global 1-based ``row_number`` over ``order_cols`` WITHOUT a
    single-task global sort: deterministic range buckets on the FIRST
    order column (monotone, so bucket order == key order), a
    per-bucket ``row_number`` window, and ONE |buckets|-row offset
    collect via :func:`bucket_prefix_offsets` — the spearman/KS/KM
    census-prefix discipline generalized to whole-row ranking.

    ``order_cols`` are column NAMES, ascending; make the combination
    unique (append a key column) or ties break arbitrarily within a
    bucket. For descending order materialize a negated column first
    (exact for integer keys). Returns ``(df + out_col, total_rows)``.

    Scale shape: one approxQuantile pass for bounds, one window
    bounded per bucket (rows/bucket ≈ N/shuffle.partitions), one
    driver collect of |buckets| longs. No stage sees the global
    order.
    """
    from pyspark.sql import Window

    if not order_cols:
        raise ValueError("distributed_row_number needs order columns")
    b = with_range_bucket(df, order_cols[0], "__rnb__", n_buckets)
    win = (Window.partitionBy("__rnb__")
           .orderBy(*[F.col(c) for c in order_cols]))
    b = b.withColumn("__rnw__", F.row_number().over(win))
    maps, totals = bucket_prefix_offsets(
        b.groupBy("__rnb__").agg(F.count(F.lit(1)).alias("__n__")),
        "__rnb__", {"n": F.col("__n__")})
    rank = (F.coalesce(maps["n"][F.col("__rnb__")], F.lit(0))
            + F.col("__rnw__"))
    return (b.withColumn(out_col, rank).drop("__rnb__", "__rnw__"),
            int(totals["n"]))
