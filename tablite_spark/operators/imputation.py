"""Imputation — carry-forward, mean, mode, nearest-neighbour.

Reference: ``Table.imputation(targets, missing, method, sources)``
(tablite/core.py:857-904, tablite/imputation.py:12-158, NN distance in
nimlite/funcs/imputation.nim:116-275).

Spark mappings:
- carry-forward → ``last(col, ignorenulls=True)`` over an ordered
  running window (needs an explicit order column — distributed frames
  have no implicit row order).
- mean / mode → global agg broadcast back via ``fillna`` (no shuffle of
  the big side: the agg result is a scalar).
- nearest-neighbour → the reference is O(n²) single-node; here the
  exact form is a crossJoin+rank confined to the null rows only
  (null_rows × donor_rows, usually << n²), with rank-normalized L1
  distance over the source columns, matching imputation.nim's
  normalized distance. The scale path is LSH bucketing (pipeline.dedup
  shares the machinery).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin


def carry_forward(df: DataFrame, targets: list[str], order_by: list[str]) -> DataFrame:
    """Forward-fill in global ``order_by`` order — scale-safe two-pass.

    A single ``Window.orderBy`` would serialize the whole table through
    one task. Instead: (1) bucket on the leading order key via
    DETERMINISTIC driver-computed range bounds (a pure function of
    the key — ``functions/buckets.py`` — so the boundary-collect job
    and the output job agree on bucket membership by construction,
    with no persist to keep alive and no exposure to the
    RangePartitioner's per-RDD sampling seed); (2) forward-fill
    WITHIN each bucket (window partitioned by bucket — distributed);
    (3) collect one row per bucket (its last filled value per
    target), compute each bucket's carry-in on the driver
    (|buckets| rows), and patch leading nulls via a broadcast map
    literal. No row-level data ever converges on one task. Ties on
    the leading key never split across buckets, and the within-bucket
    window orders by the FULL key list, so the fill order is the
    global ``order_by`` order.
    """
    from tablite_spark.functions.buckets import with_range_bucket
    pid = "__cf_pid__"
    ocols = [F.col(c) for c in order_by]
    part = with_range_bucket(df, order_by[0], pid)
    w = (Window.partitionBy(pid).orderBy(*ocols)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = part
    for t in targets:
        filled = filled.withColumn(t, F.last(F.col(t), ignorenulls=True).over(w))
    # last filled value per partition = value on the max order-key row
    order_struct = F.struct(*ocols)
    lasts = (filled.groupBy(pid)
             .agg(*[F.max_by(F.col(t), order_struct).alias(t) for t in targets])
             .collect())
    lasts.sort(key=lambda r: r[pid])
    carry: dict[int, dict] = {}
    running: dict[str, object] = {t: None for t in targets}
    for r in lasts:
        carry[r[pid]] = dict(running)
        for t in targets:
            if r[t] is not None:
                running[t] = r[t]
    out = filled
    for t in targets:
        entries = [(p, v[t]) for p, v in carry.items() if v[t] is not None]
        if entries:
            m = F.create_map(
                *[x for p, v in entries for x in (F.lit(p), F.lit(v))])
            out = out.withColumn(t, F.coalesce(F.col(t), m[F.col(pid)]))
    return out.drop(pid)


def fill_mean(df: DataFrame, targets: list[str]) -> DataFrame:
    aggs = df.agg(*[F.avg(F.col(t)).alias(t) for t in targets]).first()
    return df.fillna({t: aggs[t] for t in targets if aggs[t] is not None})


def fill_mode(df: DataFrame, targets: list[str]) -> DataFrame:
    aggs = df.agg(*[F.mode(F.col(t)).alias(t) for t in targets]).first()
    return df.fillna({t: aggs[t] for t in targets if aggs[t] is not None})


def nearest_neighbour(df: DataFrame, targets: list[str],
                      sources: list[str],
                      tiebreak: list[str] | None = None) -> DataFrame:
    """Exact NN imputation (rank-normalized L1 over sources).

    For each row with a missing target, find the donor row (target not
    null) minimizing sum(|src_i - donor_src_i| / range_i); ties broken
    by ``tiebreak`` donor columns (default: donor ingest order). Only
    null rows join donors — at 100 TB the null fraction is what drives
    cost, and the donor side can be sampled or LSH-bucketed without
    changing the API.
    """
    ranges = df.agg(*[
        (F.max(F.col(s)) - F.min(F.col(s))).alias(s) for s in sources
    ]).first()

    rid = "__nn_rid__"
    base = pin(df.withColumn(rid, F.monotonically_increasing_id()),
               eager=True)  # pin ids: nulls/donors/join-back
    # branches below each re-reference base; un-pinned, a task retry
    # could re-evaluate the id assignment differently per branch
    out = base
    for t in targets:
        nulls = out.filter(F.col(t).isNull()).select(rid, *sources)
        tb_src = tiebreak or []
        donors = out.filter(F.col(t).isNotNull()).select(
            F.col(rid).alias("__donor_rid__"), F.col(t).alias("__donor_val__"),
            *[F.col(s).alias(f"__d_{s}__") for s in sources],
            *[F.col(s).alias(f"__tb_{s}__") for s in tb_src if s not in sources])
        dist_terms = []
        for s in sources:
            rng = ranges[s] or 1
            dist_terms.append(F.abs(F.col(s) - F.col(f"__d_{s}__")) / F.lit(float(rng)))
        dist = reduce(Column.__add__, dist_terms)
        tb_cols = ([F.col(f"__d_{s}__" if s in sources else f"__tb_{s}__").asc()
                    for s in tb_src]
                   if tb_src else [F.col("__donor_rid__").asc()])
        w = Window.partitionBy(rid).orderBy(dist.asc(), *tb_cols)
        best = (nulls.join(donors, on=F.lit(True), how="left")
                .withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
                .select(rid, F.col("__donor_val__").alias(f"__fill_{t}__")))
        out = (out.join(best, on=rid, how="left")
               .withColumn(t, F.coalesce(F.col(t), F.col(f"__fill_{t}__")))
               .drop(f"__fill_{t}__"))
    return out.drop(rid)


def nearest_neighbour_lsh(df: DataFrame, targets: list[str],
                          sources: list[str],
                          n_tables: int = 4, n_bits: int = 6,
                          seed: int = 42,
                          tiebreak: list[str] | None = None) -> DataFrame:
    """Approximate NN imputation — the 100 TB shape of
    :func:`nearest_neighbour`.

    Null rows and donors are bucketed by ``n_tables`` independent
    random-hyperplane sign signatures over the range-normalized source
    vector; candidate pairs come from an equi join on (table, bucket)
    — never the full nulls x donors product. Exact rank-normalized L1
    re-ranks candidates, so a bucket hit returns the true nearest
    donor *within the probed buckets*. Rows with no candidate in any
    table (rare for reasonable n_bits) fall back to the exact path.

    Cost: donors are replicated n_tables times (narrow rows: sources +
    value); the join key is (table, 64-bit bucket hash). Tune n_bits up
    for bigger corpora (halves candidates per bucket per bit).
    """
    import random

    rnd = random.Random(seed)
    ranges = df.agg(*[
        (F.max(F.col(s)) - F.min(F.col(s))).alias(s) for s in sources
    ]).first()

    def norm(col_fn):
        return [col_fn(s) / F.lit(float(ranges[s] or 1)) for s in sources]

    # n_tables x n_bits fixed random hyperplanes (driver-side constants)
    planes = [[[rnd.gauss(0, 1) for _ in sources] for _ in range(n_bits)]
              for _ in range(n_tables)]

    def bucket_cols(col_fn, prefix):
        cols = []
        for t_i, table in enumerate(planes):
            bits = [
                F.shiftleft(
                    F.when(
                        reduce(Column.__add__,
                               [v * F.lit(w) for v, w in zip(norm(col_fn), plane)]) >= 0,
                        F.lit(1)).otherwise(F.lit(0)).cast("long"),
                    b_i)
                for b_i, plane in enumerate(table)]
            cols.append(reduce(Column.bitwiseOR, bits).alias(f"{prefix}{t_i}"))
        return cols

    rid = "__nn_rid__"
    base = pin(df.withColumn(rid, F.monotonically_increasing_id()),
               eager=True)  # pin ids: nulls/donors/join-back
    # branches below each re-reference base; un-pinned, a task retry
    # could re-evaluate the id assignment differently per branch
    out = base
    for t in targets:
        nulls = out.filter(F.col(t).isNull()).select(
            rid, *sources, *bucket_cols(F.col, "__bq_"))
        donors = out.filter(F.col(t).isNotNull()).select(
            F.col(rid).alias("__donor_rid__"), F.col(t).alias("__donor_val__"),
            *[F.col(s).alias(f"__d_{s}__") for s in sources],
            *bucket_cols(lambda s: F.col(s), "__bd_"))
        # explode both sides to (table, bucket) and equi join
        nq = nulls.select(rid, *sources, F.posexplode(
            F.array(*[F.col(f"__bq_{i}") for i in range(n_tables)])
        ).alias("__tbl__", "__bkt__"))
        dq = donors.select("__donor_rid__", "__donor_val__",
                           *[F.col(f"__d_{s}__") for s in sources],
                           F.posexplode(F.array(
                               *[F.col(f"__bd_{i}") for i in range(n_tables)])
                           ).alias("__tbl__", "__bkt__"))
        cand = nq.join(dq, on=["__tbl__", "__bkt__"])
        dist = reduce(Column.__add__, [
            F.abs(F.col(s) - F.col(f"__d_{s}__")) / F.lit(float(ranges[s] or 1))
            for s in sources])
        w = Window.partitionBy(rid).orderBy(
            dist.asc(), F.col("__donor_rid__").asc())
        best = (cand.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
                .select(rid, F.col("__donor_val__").alias(f"__fill_{t}__")))
        out = (out.join(best, on=rid, how="left")
               .withColumn(t, F.coalesce(F.col(t), F.col(f"__fill_{t}__")))
               .drop(f"__fill_{t}__"))
    out = out.drop(rid)
    # exact fallback for rows still null (no bucket collision in any table)
    remaining = out.filter(
        reduce(Column.__or__, [F.col(t).isNull() for t in targets])).count()
    if remaining:
        out = nearest_neighbour(out, targets, sources, tiebreak=tiebreak)
    return out


def imputation(df: DataFrame, targets: list[str], method: str = "carry_forward",
               sources: list[str] | None = None,
               order_by: list[str] | None = None,
               missing=None) -> DataFrame:
    """Reference dispatcher (tablite/core.py:857-904). ``missing``:
    values treated as missing in the targets (nulled before filling),
    matching the reference's ``missing`` iterable."""
    if isinstance(targets, str):
        targets = [targets]
    if missing:
        vals = [v for v in missing if v is not None]
        for t in targets:
            c = F.col(t)
            if vals:
                df = df.withColumn(t, F.when(c.isin(vals), F.lit(None)).otherwise(c))
    if method in ("carry_forward", "ffill", "carry forward"):
        if not order_by:
            raise ValueError("carry_forward needs order_by columns on a distributed frame")
        return carry_forward(df, targets, order_by)
    if method == "mean":
        return fill_mean(df, targets)
    if method == "mode":
        return fill_mode(df, targets)
    if method in ("nearest_neighbour", "nn", "nearest neighbour"):
        if not sources:
            raise ValueError("nearest_neighbour needs source columns")
        return nearest_neighbour(df, targets, sources)
    raise ValueError(f"unknown imputation method {method!r}")
