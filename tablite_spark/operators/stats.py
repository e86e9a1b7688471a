"""Column statistics / histogram / type census.

Reference: ``Column.statistics()`` (tablite/base.py:1007-1024,
tablite/utils.py:188-398) — summary dict with min, max, mean, median,
stdev, mode, distinct, iqr bounds, sum. ``Column.histogram``
(base.py:981-1005), ``Column.unique`` (base.py:956-979),
``Column.count(item)`` type-strict counting (base.py:1026-1072).

All single-pass Spark aggregations (one job, partial aggs map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tablite_spark.plans.hints import respread
from tablite_spark.plans.lifecycle import is_expensive, pin, release


_TEMPORAL = {"date", "timestamp", "timestamp_ntz"}


def exact_percentiles(df: DataFrame,
                      wants: dict[str, list[float]]) -> dict:
    """Driver-side EXACT percentiles (``F.percentile`` semantics,
    bit-identical) for one or more numeric columns, computed on the
    census-prefix engine instead of Spark's Percentile aggregate.

    Why (r14 optimization round): Percentile buffers EVERY value into
    a boxed per-task OpenHashMap and merges the maps into ONE task —
    measured 1.9 s for the 583k-distinct lineitem price column alone
    (~60% of the fit-transform family's bench cost) and the
    documented single-task memory wall past ~10M rows. Here the
    corpus collapses in a combinable census groupBy, the quantile
    indices are located by exact integer cumulative counts (range
    buckets + in-bucket windows + ONE |buckets|-row offset collect —
    the spearman discipline), and only the ≤2 boundary values per
    requested q reach the driver.

    Exactness: index selection is two-level order statistics — the
    0-based row index maps through exact per-range row counts to an
    in-range rank (row_number over value order; tied ranks share the
    value, so tie order is irrelevant) — and the interpolation
    replicates Percentile's ``(hi−pos)·lower + (pos−lo)·higher``
    double formula; both verified bit-identical against
    ``F.percentile`` on adversarial values
    (``test_exact_percentiles_bit_identical``). Columns evaluate
    concurrently (guide §2.6). Returns ``{col: [values] aligned with
    wants[col]}``, with None for a column with no non-null values
    (Percentile's NULL result).

    Three jobs per column, all whole-stage-codegen row-local
    arithmetic (the deterministic range id is ``floor((v−min)/w)``
    of driver constants — O(1) per row): the min/max/n pass, one
    combinable ≤4097-row range-count collect, and one probe that
    shuffles ONLY the ranges holding a requested index.
    Skew note: a pathological outlier can pile most rows into one
    range, in which case the probe's in-range window degrades to the
    single-task sort Percentile always paid — never worse, usually
    ~n/4096 of it."""
    import math
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window

    RANGES = 4096

    def one(col: str):
        v = F.col(col).cast("double")
        base = df.filter(v.isNotNull()).select(v.alias("__v__"))
        mm = base.agg(F.min("__v__").alias("mn"),
                      F.max("__v__").alias("mx"),
                      F.count(F.lit(1)).alias("n")).collect()[0]
        n = int(mm["n"])
        if n == 0:
            return None
        mn, mx = float(mm["mn"]), float(mm["mx"])
        width = (mx - mn) / RANGES
        if width > 0:
            rid = F.least(
                F.floor((F.col("__v__") - F.lit(mn)) / F.lit(width)),
                F.lit(RANGES - 1)).cast("int")
        else:  # constant column (or a single row): one range
            rid = F.lit(0)
        rows = (base.groupBy(rid.alias("__r__"))
                .agg(F.count(F.lit(1)).alias("__c__")).collect())
        rows.sort(key=lambda r: r["__r__"])
        cum_before, run = {}, 0
        for r in rows:
            cum_before[r["__r__"]] = run
            run += r["__c__"]
        qs = wants[col]
        need = sorted({i for q in qs
                       for i in (int(math.floor(q * (n - 1))),
                                 int(math.ceil(q * (n - 1))))})
        # map each global index to (range, in-range 0-based rank):
        # the last range whose exclusive prefix count is <= i
        import bisect
        order = [r["__r__"] for r in rows]
        cums = [cum_before[rr] for rr in order]
        pairs = []
        for i in need:
            rr = order[bisect.bisect_right(cums, i) - 1]
            pairs.append((i, rr, i - cum_before[rr]))
        needed = sorted({rr for _, rr, _ in pairs})
        # SQL ordering ties -0.0 with +0.0; Percentile's map keys are
        # raw bits ordered -0.0 < +0.0 — replicate with a sign-bit
        # tiebreak. The probe is the string cast ('-0.0' keeps the
        # sign), NOT signum(1/x): ANSI mode raises DIVIDE_BY_ZERO on
        # a ±0.0 divisor even for doubles.
        zkey = (F.when(F.col("__v__") == 0.0,
                       F.when(F.col("__v__").cast("string")
                              .startswith("-"), F.lit(-1.0))
                       .otherwise(F.lit(1.0)))
                .otherwise(F.lit(0.0)))
        w = Window.partitionBy("__r__").orderBy(F.col("__v__"), zkey)
        cond = None
        for _, rr, rk in pairs:
            c = (F.col("__r__") == rr) & (F.col("__rn__") == rk)
            cond = c if cond is None else (cond | c)
        probe = (base.withColumn("__r__", rid)
                 .filter(F.col("__r__").isin(needed))
                 .withColumn("__rn__", F.row_number().over(w) - 1)
                 .filter(cond)
                 .select("__r__", "__rn__", "__v__").collect())
        val = {(r["__r__"], r["__rn__"]): r["__v__"] for r in probe}
        at = {i: val[(rr, rk)] for i, rr, rk in pairs}
        out = []
        for q in qs:
            pos = q * (n - 1)
            lo, hi = int(math.floor(pos)), int(math.ceil(pos))
            if lo == hi or at[lo] == at[hi]:
                # Percentile's equal-key shortcut: no interpolation
                # when both boundary keys compare equal (protects a
                # tied value from (hi−pos)+(pos−lo) ulp drift, and
                # returns the LOWER of a ±0.0 pair as Spark does)
                out.append(at[lo])
            else:
                out.append((hi - pos) * at[lo] + (pos - lo) * at[hi])
        return out

    cols = list(wants)
    with ThreadPoolExecutor(max_workers=max(len(cols), 1)) as ex:
        res = list(ex.map(one, cols))
    return dict(zip(cols, res))


def statistics(df: DataFrame, column: str) -> DataFrame:
    """One-row frame of summary statistics for a column.

    Temporal columns follow the reference's rule (tablite/utils.py:
    188-398): map to numeric (epoch seconds), aggregate, map the
    order-statistics (min/max/mean/median/mode/iqr bounds) back to
    timestamps; spread measures (stdev/iqr) stay numeric seconds and
    ``sum`` is meaningless for instants so it is omitted (null).
    """
    dtype = dict(df.dtypes).get(column, "")
    if dtype in _TEMPORAL:
        c = F.unix_timestamp(F.col(column)).cast("double")
        qs = F.percentile_approx(c, [0.25, 0.75], 100_000)
        back = F.timestamp_seconds
        return df.agg(
            back(F.min(c)).alias("min"),
            back(F.max(c)).alias("max"),
            back(F.avg(c)).alias("mean"),
            back(F.median(c)).alias("median"),
            F.stddev_samp(c).alias("stdev"),
            back(F.mode(c)).alias("mode"),
            F.count_distinct(c).alias("distinct"),
            back(qs.getItem(0)).alias("iqr_low"),
            back(qs.getItem(1)).alias("iqr_high"),
            (qs.getItem(1) - qs.getItem(0)).alias("iqr"),
            F.lit(None).cast("double").alias("sum"),
            F.count(F.lit(1)).alias("summary_rows"),
            F.count(c).alias("non_null"),
        )
    base = dtype.split("(")[0]
    if base not in {"tinyint", "smallint", "int", "bigint", "float",
                    "double", "decimal"}:
        # text/boolean/binary: order statistics by the type's own
        # ordering; arithmetic measures are meaningless → null
        # (reference utils.py:188-398 branches per-type the same way)
        c = F.col(column)
        null_d = F.lit(None).cast("double")
        return df.agg(
            F.min(c).alias("min"),
            F.max(c).alias("max"),
            null_d.alias("mean"),
            null_d.alias("median"),
            null_d.alias("stdev"),
            F.mode(c).alias("mode"),
            F.count_distinct(c).alias("distinct"),
            null_d.alias("iqr_low"),
            null_d.alias("iqr_high"),
            null_d.alias("iqr"),
            null_d.alias("sum"),
            F.count(F.lit(1)).alias("summary_rows"),
            F.count(c).alias("non_null"),
        )
    c = F.col(column)
    qs = F.percentile_approx(c, [0.25, 0.75], 100_000)
    return df.agg(
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.avg(c).alias("mean"),
        F.median(c).alias("median"),
        F.stddev_samp(c).alias("stdev"),
        F.mode(c).alias("mode"),
        F.count_distinct(c).alias("distinct"),
        qs.getItem(0).alias("iqr_low"),
        qs.getItem(1).alias("iqr_high"),
        (qs.getItem(1) - qs.getItem(0)).alias("iqr"),
        F.sum(c).alias("sum"),
        F.count(F.lit(1)).alias("summary_rows"),
        F.count(c).alias("non_null"),
    )


def statistics_dict(df: DataFrame, column: str) -> dict:
    return statistics(df, column).first().asDict()


def histogram(df: DataFrame, column: str) -> DataFrame:
    """Value→count for one column (tablite/base.py:981-1005)."""
    return df.groupBy(column).agg(F.count(F.lit(1)).alias("count"))


def unique_values(df: DataFrame, column: str) -> DataFrame:
    return df.select(column).distinct()


def count_value(df: DataFrame, column: str, value) -> int:
    """Type-strict occurrence count — with a typed schema, strictness
    is free (True != 1 can't collide in a typed column)."""
    if value is None:
        return df.filter(F.col(column).isNull()).count()
    return df.filter(F.col(column) == F.lit(value)).count()


def type_census(df: DataFrame) -> dict:
    """tablite ``Table.types()`` (base.py:1665-1683): per-column python
    type histogram. A typed Spark schema makes this {type: non-null,
    NoneType: nulls} per column, computed in ONE aggregation pass."""
    aggs = []
    for cname in df.columns:
        aggs.append(F.count(F.col(cname)).alias(f"{cname}__nn"))
        aggs.append(F.count(F.lit(1)).alias(f"{cname}__total"))
    row = df.agg(*aggs).first()
    out = {}
    for field in df.schema.fields:
        nn = row[f"{field.name}__nn"]
        total = row[f"{field.name}__total"]
        census = {field.dataType.simpleString(): nn}
        if total - nn:
            census["NoneType"] = total - nn
        out[field.name] = census
    return out


def profile_columns(df: DataFrame, columns: list[str] | None = None,
                    rsd: float = 0.05) -> DataFrame:
    """Single-pass sketch profile of many columns at once — the
    100 TB data-profiling pass (long format: one row per column with
    n, n_nulls, approx_distinct, min, max, mean).

    ``approx_distinct`` is HyperLogLog++ at relative standard
    deviation ``rsd`` (Spark's approx_count_distinct) — a bounded,
    mergeable sketch where an exact countDistinct per column would
    cost one full shuffle EACH. Everything is computed in ONE
    aggregation job with map-side partials; min/max/mean are exact.
    Non-numeric columns report null mean. Beyond the reference
    (tablite computes exact distincts per column page); the sketch
    error bound is pinned by tests and the ``column_profile``
    oracle's within-bound check."""
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    numeric = {"tinyint", "smallint", "int", "bigint", "float",
               "double"} | {d for d in dtypes.values()
                            if d.startswith("decimal")}
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(col)).alias(f"{c}__nulls"),
            F.approx_count_distinct(col, rsd).alias(f"{c}__ad"),
            F.min(col).cast("string").alias(f"{c}__min"),
            F.max(col).cast("string").alias(f"{c}__max"),
            (F.avg(col.cast("double"))
             if dtypes.get(c) in numeric else F.lit(None).cast("double")
             ).alias(f"{c}__mean"),
        ]
    row = df.agg(*aggs).first()
    out = [(c, int(row[f"{c}__n"]), int(row[f"{c}__nulls"]),
            int(row[f"{c}__ad"]), row[f"{c}__min"], row[f"{c}__max"],
            float(row[f"{c}__mean"]) if row[f"{c}__mean"] is not None
            else None) for c in cols]
    return df.sparkSession.createDataFrame(
        out, "column string, n long, n_nulls long, "
             "approx_distinct long, min string, max string, "
             "mean double")


def ab_welch(df: DataFrame, group_col: str, val_col: str) -> DataFrame:
    """Pairwise Welch's t-test over the groups of ``group_col``:
    one row per unordered group pair (g_a < g_b) with means, the
    Welch t statistic and the Welch–Satterthwaite degrees of freedom
    — the standard unequal-variance A/B comparison (public formula).

    Scale shape: the corpus collapses to ONE combinable
    groupBy(group) pass (n, mean, var_samp — all partial-aggregating,
    so a 100 TB variant column costs one scan + a |groups|-row
    shuffle); the pairing is a broadcast self-join of the tiny
    per-group summary. NULL values are excluded per standard
    aggregate semantics; groups need n >= 2 for a variance.
    """
    g = (df.filter(F.col(val_col).isNotNull())
         .groupBy(F.col(group_col).alias("g"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.avg(val_col).alias("m"),
              F.var_samp(val_col).alias("v"))
         .filter(F.col("n") >= 2))
    a = g.select(F.col("g").alias("g_a"), F.col("n").alias("na"),
                 F.col("m").alias("ma"), F.col("v").alias("va"))
    b = g.select(F.col("g").alias("g_b"), F.col("n").alias("nb"),
                 F.col("m").alias("mb"), F.col("v").alias("vb"))
    sa = F.col("va") / F.col("na")
    sb = F.col("vb") / F.col("nb")
    # Degenerate pairs where BOTH samples are constant (va = vb = 0)
    # have no defined t / dof; under ANSI mode the bare division
    # throws DIVIDE_BY_ZERO and aborts the whole query, so emit NULL
    # for those pairs instead (mirrored in the DuckDB oracle).
    ok = (sa + sb) > 0
    t = F.when(ok, (F.col("ma") - F.col("mb")) / F.sqrt(sa + sb))
    dof = F.when(ok, (sa + sb) * (sa + sb)
                 / (sa * sa / (F.col("na") - 1)
                    + sb * sb / (F.col("nb") - 1)))
    return (a.join(F.broadcast(b), F.col("g_a") < F.col("g_b"))
            .select("g_a", "g_b", "na", "nb",
                    F.round(F.col("ma"), 4).alias("mean_a"),
                    F.round(F.col("mb"), 4).alias("mean_b"),
                    F.round(t, 4).alias("t_stat"),
                    F.round(dof, 2).alias("dof")))


def pairwise_corr(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation matrix over numeric columns: one row per
    unordered pair (col_a < by list position) with the pairwise-
    complete observation count and the correlation — the standard
    feature-screening / leakage-audit scan (beyond the reference,
    whose stats stop at per-column summaries).

    Scale shape: ONE combinable aggregation pass — ``F.corr`` is a
    declarative partial-merging aggregate (map-side Gram partials,
    exactly the PCA covariance discipline but expression-only), so a
    100 TB table costs one scan and a k(k-1)/2-expression single-row
    shuffle; the long (col_a, col_b, n, corr) layout is an inline
    explode of that one row, never a per-pair job. Rows where either
    column is NULL are excluded pairwise (Spark and standard SQL
    ``corr`` agree); a zero-variance side yields NULL (Spark's NaN is
    normalized to match SQL semantics).
    """
    if len(cols) < 2:
        raise ValueError("pairwise_corr needs at least two columns")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    aggs = []
    for a, b in pairs:
        # F.corr itself divides unguarded — a zero-variance side is a
        # DIVIDE_BY_ZERO under ANSI mode (the ab_welch class), so
        # build the ratio from guarded combinable co-moments instead:
        # covar_samp / (stddev·stddev) with the division applied in
        # the post-aggregation projection only when both variances
        # are positive (the (n-1) factors cancel exactly).
        ca, cb = F.col(a).cast("double"), F.col(b).cast("double")
        both_a = F.when(cb.isNotNull(), ca)   # pairwise deletion
        both_b = F.when(ca.isNotNull(), cb)
        cov = F.covar_samp(both_a, both_b)
        va, vb = F.var_samp(both_a), F.var_samp(both_b)
        c = F.when((va > 0) & (vb > 0), cov / F.sqrt(va * vb))
        aggs.append(c.alias(f"c__{a}__{b}"))
        aggs.append(F.count(F.when(ca.isNotNull()
                                   & cb.isNotNull(), 1))
                    .alias(f"n__{a}__{b}"))
    one = df.agg(*aggs)
    structs = [F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                        F.col(f"n__{a}__{b}").alias("n"),
                        F.col(f"c__{a}__{b}").alias("corr"))
               for a, b in pairs]
    return (one.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.col_a", "p.col_b", "p.n", "p.corr"))


def group_quantiles(df: DataFrame, keys: list[str], val_col: str,
                    qs: list[float], exact: bool = True,
                    accuracy: int = 10000) -> DataFrame:
    """Per-group quantiles of ``val_col`` at the given fractions:
    long rows (keys..., q, value) with linear interpolation between
    order statistics (SQL ``percentile_cont`` semantics — matches
    DuckDB ``quantile_cont`` exactly, so the exact path is
    value-level oracled). NULL values are excluded.

    Scale shape: one groupBy pass either way. ``exact=True`` buffers
    each group's values in a spill-aware ObjectHashAggregate
    (``F.percentile``) — the right tool when groups are bounded
    (per-day metrics, per-type telemetry). For 100 TB groups use
    ``exact=False``: ``F.approx_percentile`` keeps a combinable
    Greenwald-Khanna sketch per group (error 1/accuracy), constant
    memory per group, fully map-side-merging — the documented scale
    valve, same contract split as exact-vs-LSH imputation.

    A group whose values are ALL NULL survives with NULL at every
    requested fraction (the percentile aggregate returns NULL; we
    coalesce it to an array of NULLs so posexplode keeps the group)
    — matching SQL percentile_cont and DuckDB's zipped-unnest
    padding, so the group never silently disappears.
    """
    arr = F.array(*[F.lit(float(q)) for q in qs])
    v = F.col(val_col).cast("double")
    agg = (F.percentile(v, arr) if exact
           else F.approx_percentile(v, arr, F.lit(accuracy)))
    nulls = F.array(*[F.lit(None).cast("double") for _ in qs])
    g = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.coalesce(agg, nulls).alias("qv_"))
    qlits = F.array(*[F.lit(float(q)) for q in qs])
    return (g.select(*keys, F.posexplode("qv_").alias("pos_", "value"))
            .withColumn("q", F.element_at(qlits, F.col("pos_") + 1))
            .drop("pos_")
            .select(*keys, "q", "value"))


def mutual_information(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Mutual information (nats) between two discrete columns, plus
    both marginal entropies — the standard dependence screen for
    categorical features / leakage detection. Rows with a NULL on
    either side are excluded. Returns ONE row
    (n, mi_nats, h_x, h_y) at full double precision.

    Scale shape: the corpus collapses in ONE combinable
    groupBy(x, y) count; every later term is computed ON the joint
    frame (|X|·|Y| rows — bounded by the columns' categorical
    cardinality, never by corpus size): marginals are window sums
    over the joint (two hash shuffles of the tiny joint, no
    driver-side collect), N is a lazy broadcast scalar (the tfidf
    ReusedExchange discipline), and the final MI/entropy reduction
    is one single-row aggregate. Nothing about the plan changes
    between 60k rows and 100 TB except the one corpus scan.
    """
    from pyspark.sql import Window
    x, y = F.col(x_col), F.col(y_col)
    j = (df.filter(x.isNotNull() & y.isNotNull())
         .groupBy(x.alias("x_"), y.alias("y_"))
         .agg(F.count(F.lit(1)).alias("nxy")))
    # pruning barrier (see tfidf_keywords): keep the scalar branch's
    # subplan canonically identical so the joint exchange is reused
    n1 = j.agg(F.sum(F.when(F.col("nxy") >= 1, F.col("nxy")))
               .alias("n_"))
    nx = F.sum("nxy").over(Window.partitionBy("x_"))
    ny = F.sum("nxy").over(Window.partitionBy("y_"))
    wide = (j.withColumn("nx", nx).withColumn("ny", ny)
            .crossJoin(F.broadcast(n1)))
    nn = F.col("n_").cast("double")
    pxy = F.col("nxy") / nn
    # nx*ny as long*long would ARITHMETIC_OVERFLOW under ANSI once
    # marginals exceed ~3e9 (nx*ny > 2^63) — cast to double FIRST,
    # mirroring the oracle's CAST(nx AS DOUBLE) * ny
    mi = F.sum(pxy * F.log(F.col("nxy") * nn
                           / (F.col("nx").cast("double")
                              * F.col("ny"))))
    # entropy from per-cell marginal shares: sum_xy p(x,y)*ln p(x) =
    # sum_x p(x) ln p(x), so H(X) needs no second marginal frame
    hx = -F.sum(pxy * F.log(F.col("nx") / nn))
    hy = -F.sum(pxy * F.log(F.col("ny") / nn))
    return wide.agg(F.max("n_").alias("n"), mi.alias("mi_nats"),
                    hx.alias("h_x"), hy.alias("h_y"))


def group_outliers(df: DataFrame, keys: list[str], val_col: str,
                   method: str = "zscore",
                   threshold: float = 3.0) -> DataFrame:
    """Per-group outlier flags for ``val_col`` — the standard
    data-quality / anomaly screen. ``method='zscore'`` flags
    ``|x - mean| > threshold * stddev_samp``; ``method='iqr'`` flags
    ``x < q1 - threshold*IQR or x > q3 + threshold*IQR`` (Tukey
    fences, threshold=1.5 classically); ``method='mad'`` flags
    ``|x - median| > threshold * 1.4826 * MAD`` (the robust z-score
    — immune to the outliers themselves inflating the fence, unlike
    zscore). Returns the input rows plus
    ``is_outlier`` (NULL value or a degenerate group — stddev 0 /
    IQR 0 / n < 2 — flags nothing: NULL/false semantics mirrored in
    the oracle). Group keys join back with ``eqNullSafe``, so a
    NULL-keyed group is a REAL group with real fences — any SQL
    oracle must join ``IS NOT DISTINCT FROM``, never ``USING``
    (which silently drops NULL keys).

    Scale shape: ONE combinable groupBy pass collapses the corpus to
    a |groups|-row summary (mean/stddev are partial-aggregating; the
    IQR path uses the exact ``F.percentile`` ObjectHashAggregate —
    same contract split as group_quantiles), then the summary joins
    back onto the rows. The join is deliberately UNHINTED: with
    bounded groups AQE broadcasts the tiny summary at runtime (no
    corpus shuffle); with 100M+ groups it correctly falls back to a
    keyed join instead of OOMing a forced broadcast. No window over
    data rows; hot groups absorbed map-side on the zscore path.
    """
    from functools import reduce
    v = F.col(val_col).cast("double")
    g = df.groupBy(*[F.col(k).alias(f"__k{i}__")
                     for i, k in enumerate(keys)])
    cond = reduce(lambda a, b: a & b,
                  [df[k].eqNullSafe(F.col(f"__k{i}__"))
                   for i, k in enumerate(keys)])
    if method == "zscore":
        summ = g.agg(F.avg(v).alias("__m__"),
                     F.stddev_samp(v).alias("__s__"))
        flag = (F.col("__s__").isNotNull() & (F.col("__s__") > 0)
                & (F.abs(v - F.col("__m__"))
                   > F.lit(float(threshold)) * F.col("__s__")))
        drop = ["__m__", "__s__"]
    elif method == "iqr":
        qs = F.percentile(v, F.array(F.lit(0.25), F.lit(0.75)))
        summ = g.agg(qs.getItem(0).alias("__q1__"),
                     qs.getItem(1).alias("__q3__"))
        iqr = F.col("__q3__") - F.col("__q1__")
        flag = (iqr > 0) & (
            (v < F.col("__q1__") - F.lit(float(threshold)) * iqr)
            | (v > F.col("__q3__") + F.lit(float(threshold)) * iqr))
        drop = ["__q1__", "__q3__"]
    elif method == "mad":
        # robust z-score: |x - median| > thr * 1.4826 * MAD (the
        # consistency constant makes scaled MAD estimate sigma for
        # gaussian data). MAD is a NESTED median, so the summary
        # takes two aggregate passes (median, then median of
        # |x - med|) — 3 corpus scans total incl. the row join,
        # inherent to the statistic; both joins stay
        # summary-vs-rows (AQE-broadcast), never row-vs-row
        med = g.agg(F.percentile(v, F.lit(0.5)).alias("__med__"))
        kcols = [F.col(f"__k{i}__") for i in range(len(keys))]
        summ = (df.join(med, cond, "left")
                .groupBy(*kcols)
                .agg(F.percentile(F.abs(v - F.col("__med__")),
                                  F.lit(0.5)).alias("__mad__"),
                     F.first("__med__").alias("__med__")))
        flag = (F.col("__mad__").isNotNull()
                & (F.col("__mad__") > 0)
                & (F.abs(v - F.col("__med__"))
                   > F.lit(float(threshold) * 1.4826)
                   * F.col("__mad__")))
        drop = ["__med__", "__mad__"]
    else:
        raise ValueError(f"method must be 'zscore', 'iqr' or 'mad', "
                         f"got {method!r}")
    joined = df.join(summ, cond, "left")
    return (joined.withColumn(
        "is_outlier",
        F.when(v.isNotNull(), F.coalesce(flag, F.lit(False))))
        .drop(*drop, *[f"__k{i}__" for i in range(len(keys))]))


def spearman_corr(df: DataFrame, cols: list[str]) -> DataFrame:
    """Spearman rank correlation matrix (tie-aware average ranks,
    LISTWISE deletion — rows with any NULL among ``cols`` are
    excluded so every pair ranks the same population): one row per
    unordered pair (col_a, col_b, n, rho). The robust companion to
    :func:`pairwise_corr` (Pearson) for monotone-but-nonlinear
    dependence and outlier-heavy columns.

    Scale shape — the textbook trap here is ranking via a GLOBAL
    ``Window.orderBy`` (serializes the corpus through one task).
    Instead, per column: a combinable distinct-value count groupBy,
    then the census prefix (``buckets.prefix_sums``) over the
    value-ordered counts. Average ranks join back value-keyed
    (merge-hinted — the rank frame scales with DISTINCT values), and
    the Pearson-on-ranks reduction is ONE
    combinable aggregation with the same guarded co-moments as
    pairwise_corr. No row-level data ever converges on one task.

    The listwise-filtered projection is PERSISTED (memory+disk,
    k numeric columns per row — spill-safe) for the duration of the
    call whenever the upstream plan is expensive to recompute (any
    join/aggregate/window/python stage): the k per-column censuses
    and the final rank-join then all read the cache, so the upstream
    is computed exactly ONCE instead of k+1 times
    (accumulator-verified in tests). A plain pruned file scan skips
    the cache — re-scanning is cheaper than filling it. Rank joins
    pick their strategy per column from the DRIVER-KNOWN census
    size: low-cardinality columns broadcast their (value, rank) map
    (no corpus shuffle), only ~all-distinct measures pay a
    merge-hinted sort-merge join. The result (≤ k(k-1)/2 pair rows —
    contract-bounded) is assembled driver-side, the covariance_matrix
    discipline, so the cache is released before returning.
    """
    if len(cols) < 2:
        raise ValueError("spearman_corr needs at least two columns")
    from functools import reduce

    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    base = df.select(*cols).filter(
        reduce(lambda a, b: a & b,
               [F.col(c).isNotNull() for c in cols]))

    # one upstream computation for k censuses + the final rank join —
    # but a plain pruned file scan re-scans cheaper than it fills a
    # cache (measured: +8 s first call on a 6M-row lineitem scan for
    # zero steady-state gain)
    pins = [pin(base, eager=False)] if is_expensive(base) else []
    base = pins[0] if pins else base

    def avg_ranks(c):
        vc = (base.groupBy(F.col(c).alias("__v__"))
              .agg(F.count(F.lit(1)).alias("__c__")))
        # the census feeds three jobs (bounds, offsets, rank join) —
        # pin it so the corpus scan + census shuffle run once
        vc = pin(vc, eager=True)
        pins.append(vc)
        vc, totals = prefix_sums(
            with_range_bucket(vc, "__v__", "__p__"), "__p__",
            ["__v__"], {"__cum__": F.col("__c__"), "__nd__": F.lit(1)})
        # strictly-smaller count = cum - c; average rank of a tie
        # group of size c starting at min_rank is min_rank + (c - 1)/2
        rank = (F.col("__cum__") - F.col("__c__")
                + (F.col("__c__") + 1) / 2.0)
        return (vc.select(F.col("__v__").alias(c),
                          rank.alias(f"__r_{c}__")), totals["__nd__"])

    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    # r14 optimization round (guide §2.2): each column's rank
    # derivation runs two driver-blocking jobs (the range-bound
    # pass + the |buckets|-row offset collect) — k columns paid
    # them SEQUENTIALLY. Spark job submission is thread-safe and
    # the per-column work shares only the pinned base frame, so
    # the k chains submit concurrently: wall-clock ≈ the slowest
    # column instead of the sum. Bounds/offsets are pure
    # functions of the data (deterministic range buckets), so
    # results are unchanged by construction.
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=len(cols)) as ex:
        per_col = list(ex.map(avg_ranks, cols))
    ranked = base
    for c, (ranks, ndistinct) in zip(cols, per_col):
        # per-column join strategy from the DRIVER-KNOWN census
        # size (free with the offsets collect): a low-cardinality
        # column's (value, rank) map broadcasts — no corpus
        # shuffle at all for that column; only genuinely
        # corpus-scale rank frames (~all-distinct measures) pay
        # the merge-hinted sort-merge join
        if ndistinct <= 200_000:
            ranked = ranked.join(F.broadcast(ranks), c)
        else:
            ranked = ranked.hint("merge").join(
                ranks.hint("merge"), c)
    aggs = []
    for a, b in pairs:
        ra, rb = F.col(f"__r_{a}__"), F.col(f"__r_{b}__")
        cov = F.covar_samp(ra, rb)
        va, vb = F.var_samp(ra), F.var_samp(rb)
        rho = F.when((va > 0) & (vb > 0), cov / F.sqrt(va * vb))
        aggs.append(rho.alias(f"c__{a}__{b}"))
    aggs.append(F.count(F.lit(1)).alias("__n__"))
    row = ranked.agg(*aggs).collect()[0]   # exactly ONE row
    for p in pins:
        release(p)
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )
    schema = StructType([StructField("col_a", StringType()),
                         StructField("col_b", StringType()),
                         StructField("n", LongType(), False),
                         StructField("rho", DoubleType())])
    data = [(a, b, row["__n__"], row[f"c__{a}__{b}"])
            for a, b in pairs]
    return df.sparkSession.createDataFrame(data, schema)


def _two_group_census(df: DataFrame, group_col: str, val_col: str,
                      group_a, group_b, name: str):
    """The per-value census of :func:`ks_test_2sample` and
    :func:`mann_whitney_u`: one row per distinct non-null ``val_col``
    of the two groups (``__v__``) with each group's count
    (``__ca__``, ``__cb__``), their sum ``__ct__`` and the three
    inclusive prefix counts over value order (``__cuma__``,
    ``__cumb__``, ``__cumt__``). Returns ``(census, n_a, n_b)``;
    raises when a group has no non-null value."""
    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    g, v = F.col(group_col), F.col(val_col)
    cens = (df.filter(v.isNotNull() & g.isin([group_a, group_b]))
            .groupBy(v.alias("__v__"))
            .agg(F.count(F.when(g == F.lit(group_a), 1))
                 .alias("__ca__"),
                 F.count(F.when(g == F.lit(group_b), 1))
                 .alias("__cb__"))
            .withColumn("__ct__", F.col("__ca__") + F.col("__cb__")))
    cens, totals = prefix_sums(
        with_range_bucket(pin(cens, eager=True), "__v__", "__p__"),
        "__p__", ["__v__"], {"__cuma__": F.col("__ca__"),
                             "__cumb__": F.col("__cb__"),
                             "__cumt__": F.col("__ct__")})
    na, nb = int(totals["__cuma__"]), int(totals["__cumb__"])
    if na == 0 or nb == 0:
        raise ValueError(
            f"{name}: group {'a' if na == 0 else 'b'} has "
            f"no non-null values")
    return cens, na, nb


def ks_test_2sample(df: DataFrame, group_col: str, val_col: str,
                    group_a, group_b, terms: int = 100) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the ``val_col``
    distributions of two groups: ONE row (n_a, n_b, d_stat, p_value)
    where ``d_stat`` = sup over pooled observed values of
    |F_a(x) - F_b(x)| (ties counted, right-continuous ECDFs) and
    ``p_value`` is the asymptotic Kolmogorov series
    2·Σ_{j≥1} (-1)^{j-1} exp(-2 j² λ²), λ = D·sqrt(n_a·n_b/(n_a+n_b)).
    For λ < 0.2 the alternating series needs ~1.6/λ terms (found by
    the 10M-all-distinct burn-in: d≈4e-6 gave a truncated 0.59 where
    the truth is ≈1), but there the true p exceeds 1 - 5e-13 — so
    that branch returns exactly 1.0, and for λ ≥ 0.2 the default 100
    terms leave a truncation tail ≤ exp(-2·101²·0.04) ≈ e^-816:
    the series is EXACT to double precision everywhere.

    Scale shape — the textbook trap is a GLOBAL ``Window.orderBy``
    cumulative count (serializes the corpus through one task). Like
    :func:`spearman_corr`: one combinable per-value census groupBy,
    then the census prefix (``buckets.prefix_sums``, whose totals
    are n_a/n_b) over value order, and the sup is ONE combinable
    max. ECDF differences are formed directly in
    double (each cum/n is exact-rounded IEEE, values in [0,1]) —
    never as a cum_a·n_b - cum_b·n_a integer product, which would
    ARITHMETIC_OVERFLOW under ANSI once n_a·n_b exceeds 2^63.
    """
    cens, na, nb = _two_group_census(df, group_col, val_col, group_a,
                                     group_b, "ks_test_2sample")
    fa = F.col("__cuma__") / F.lit(float(na))
    fb = F.col("__cumb__") / F.lit(float(nb))
    one = cens.agg(F.max(F.abs(fa - fb)).alias("__d__"))
    lam = (F.col("__d__")
           * F.sqrt(F.lit(float(na)) * F.lit(float(nb))
                    / F.lit(float(na + nb))))
    sgn = lambda j: F.when(j % 2 == 1, F.lit(1.0)).otherwise(-1.0)
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(terms))), F.lit(0.0),
        lambda acc, j: acc + sgn(j) * F.exp(
            F.lit(-2.0) * (j * j).cast("double") * lam * lam))
    p = F.when(lam < 0.2, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), 2.0 * series)))
    return one.select(F.lit(na).cast("long").alias("n_a"),
                      F.lit(nb).cast("long").alias("n_b"),
                      F.col("__d__").alias("d_stat"),
                      p.alias("p_value"))


def chi2_independence(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Pearson chi-squared test of independence between two discrete
    columns, plus Cramér's V effect size: ONE row
    (n, dof, chi2, cramers_v). Rows with a NULL on either side are
    excluded; dof = (|X|-1)(|Y|-1); V = sqrt(chi2 / (n·min(|X|-1,
    |Y|-1))), NULL when either column is constant (dof 0).

    Scale shape — the :func:`mutual_information` discipline: the
    corpus collapses in ONE combinable groupBy(x, y); marginals are
    window sums OVER THE JOINT (|X|·|Y| rows, cardinality-bounded);
    N and the distinct counts ride a lazy broadcast scalar branch
    whose subplan is canonically identical to the main branch so the
    joint exchange is REUSED (one corpus materialization, plan-gated
    in tests). Expected counts form as double·long — never the
    long·long nx*ny product that overflows past 2^63 under ANSI.
    """
    from pyspark.sql import Window
    x, y = F.col(x_col), F.col(y_col)
    j = (df.filter(x.isNotNull() & y.isNotNull())
         .groupBy(x.alias("x_"), y.alias("y_"))
         .agg(F.count(F.lit(1)).alias("nxy")))
    # scalar branch references every joint column so Catalyst prunes
    # both branches identically -> ReusedExchange (tfidf discipline)
    n1 = j.agg(F.sum(F.when(F.col("nxy") >= 1, F.col("nxy")))
               .alias("n_"),
               F.countDistinct("x_").alias("kx_"),
               F.countDistinct("y_").alias("ky_"))
    nx = F.sum("nxy").over(Window.partitionBy("x_"))
    ny = F.sum("nxy").over(Window.partitionBy("y_"))
    wide = (j.withColumn("nx", nx).withColumn("ny", ny)
            .crossJoin(F.broadcast(n1)))
    nn = F.col("n_").cast("double")
    e = F.col("nx").cast("double") * F.col("ny") / nn
    cell = (F.col("nxy") - e) * (F.col("nxy") - e) / e
    mindim = F.least(F.col("kx_") - 1, F.col("ky_") - 1)
    out = wide.agg(
        F.max("n_").alias("n"),
        ((F.max("kx_") - 1) * (F.max("ky_") - 1)).alias("dof"),
        F.sum(cell).alias("chi2"),
        F.when(F.max(mindim) >= 1,
               F.sqrt(F.sum(cell)
                      / (F.max(F.col("n_")).cast("double")
                         * F.max(mindim))))
        .alias("cramers_v"))
    return out


def equi_depth_histogram(df: DataFrame, col: str, bins: int = 10,
                         exact: bool = True,
                         accuracy: int = 10000) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of ``col`` — the
    optimizer-statistics companion to the equal-width
    :func:`histogram`: ``bins`` buckets split at the exact
    percentile_cont edges, one row per non-empty bucket
    (bin, lo, hi, n_rows) where lo/hi are the ACTUAL min/max values
    landing in the bucket. A value equal to an edge goes to the
    LOWER bucket (edges computed with linear interpolation, so ties
    at edges are deterministic on both engines). NULLs excluded.

    Scale shape: edge computation is one aggregate —
    ``exact=True`` buffers via the spill-aware ObjectHashAggregate
    (``F.percentile``), ``exact=False`` is the combinable GK-sketch
    valve (same contract split as :func:`group_quantiles`); the
    bins-1 edges collect driver-side (bounded by ``bins``), then
    bucketing is a pure JVM-side O(bins) expression per row into one
    combinable groupBy. Two corpus scans total (edges, then counts)
    — inherent to data-dependent bucket bounds.
    """
    if bins < 2:
        raise ValueError("equi_depth_histogram needs bins >= 2")
    v = F.col(col).cast("double")
    qs = F.array(*[F.lit(i / bins) for i in range(1, bins)])
    agg = (F.percentile(v, qs) if exact
           else F.approx_percentile(v, qs, F.lit(accuracy)))
    row = df.filter(v.isNotNull()).agg(agg.alias("e")).collect()[0]
    edges = row["e"]
    if edges is None:
        raise ValueError(f"equi_depth_histogram: column {col!r} has "
                         f"no non-null values")
    earr = F.array(*[F.lit(float(e)) for e in edges])
    idx = F.aggregate(
        earr, F.lit(0),
        lambda acc, e: acc + F.when(v > e, 1).otherwise(0))
    return (df.filter(v.isNotNull())
            .groupBy(idx.alias("bin"))
            .agg(F.min(v).alias("lo"), F.max(v).alias("hi"),
                 F.count(F.lit(1)).alias("n_rows"))
            .orderBy("bin"))


def benford_digits(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-significant-digit screen over a positive
    numeric column — the classic fraud / synthetic-data detector:
    one row per digit 1-9 with the observed count, observed share,
    Benford's expected share log10(1 + 1/d), and the cell's
    chi-squared contribution n·(obs - exp)²/exp. Non-positive and
    NULL values are excluded (Benford is defined on magnitudes).

    Scale shape: the first digit is a pure row-local expression
    (floor(v / 10^floor(log10 v))), so the corpus collapses in ONE
    combinable 9-bucket groupBy; N rides the bounded frame as a
    window sum (9 rows). Note: values EXACTLY at a power of ten sit
    on the floor(log10) rounding boundary and could classify
    differently across libm implementations — real-valued data never
    lands there; exact-power data should be screened as integers.
    """
    from pyspark.sql import Window
    v = F.col(col).cast("double")
    digit = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v))))
    obs = (df.filter(v.isNotNull() & (v > 0))
           .groupBy(digit.cast("int").alias("digit"))
           .agg(F.count(F.lit(1)).alias("n_obs")))
    n = F.sum("n_obs").over(Window.partitionBy())   # 9-row frame
    share = F.col("n_obs") / n.cast("double")
    exp = F.log10(1.0 + 1.0 / F.col("digit"))
    chi2 = (n.cast("double") * (share - exp) * (share - exp) / exp)
    return (obs.select("digit", "n_obs", share.alias("share"),
                       exp.alias("benford_share"),
                       chi2.alias("chi2_term"))
            .orderBy("digit"))


def group_ols(df: DataFrame, keys: list[str], x_col: str,
              y_col: str) -> DataFrame:
    """Per-group simple linear regression (closed form): one row per
    group with (keys..., n, slope, intercept, r2) — slope =
    covar_pop/var_pop over the pairwise-non-null rows (SQL
    ``regr_slope`` semantics), intercept through the means, r2 the
    squared Pearson correlation. Degenerate groups (constant x, or
    n < 1) yield NULL slope/intercept; constant y additionally NULLs
    r2 — guarded co-moments, never an ANSI division error.

    Scale shape: ONE combinable groupBy pass — all five moments
    (n, means, variances, covariance) partial-aggregate map-side, so
    a hot group collapses before the shuffle and only a
    |groups|-row frame moves. No window, no join, no second scan.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    xb = F.when(y.isNotNull(), x)
    yb = F.when(x.isNotNull(), y)
    g = df.groupBy(*[F.col(k) for k in keys])
    cov = F.covar_pop(xb, yb)
    vx, vy = F.var_pop(xb), F.var_pop(yb)
    slope = F.when(vx > 0, cov / vx)
    out = g.agg(
        F.count(F.when(x.isNotNull() & y.isNotNull(), 1)).alias("n"),
        slope.alias("slope"),
        F.when(vx > 0, F.avg(yb) - (cov / vx) * F.avg(xb))
        .alias("intercept"),
        F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
        .alias("r2"))
    return out


def _survival_census(df: DataFrame, duration_col: str, observed_col,
                     term) -> DataFrame:
    """The per-duration census of :func:`km_curve` and
    :func:`nelson_aalen`: rows with a NULL duration or flag are
    dropped, each distinct duration counts its events and censored
    rows, one pinned bounds pass serves two census prefixes — the
    at-risk count, then the running sum ``__tcum__`` of
    ``term(d, n_at_risk)`` — and one row per event time comes back
    as (duration, n_at_risk, n_events, __tcum__)."""
    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    t = F.col(duration_col)
    obs = (F.col(observed_col) if isinstance(observed_col, str)
           else observed_col).cast("boolean")
    cens = (df.filter(t.isNotNull() & obs.isNotNull())
            .groupBy(t.alias("__t__"))
            .agg(F.count(F.when(obs, 1)).alias("__d__"),
                 F.count(F.when(~obs, 1)).alias("__c__")))
    # one bounds pass serves both prefixes below
    cens = with_range_bucket(pin(cens, eager=True), "__t__", "__b__")
    both = F.col("__d__") + F.col("__c__")
    cens, totals = prefix_sums(cens, "__b__", ["__t__"],
                               {"__cum__": both})
    n_risk = F.lit(totals["__cum__"]) - F.col("__cum__") + both
    cens, _ = prefix_sums(cens.withColumn("__nr__", n_risk), "__b__",
                          ["__t__"],
                          {"__tcum__": term(F.col("__d__"), n_risk)})
    return (cens.filter(F.col("__d__") > 0)
            .select(F.col("__t__").alias("duration"),
                    F.col("__nr__").cast("long").alias("n_at_risk"),
                    F.col("__d__").alias("n_events"), "__tcum__"))


def km_curve(df: DataFrame, duration_col: str,
             observed_col) -> DataFrame:
    """Kaplan-Meier survival estimator with right-censoring: one row
    per distinct EVENT time t (durations where ≥1 observed event)
    with (duration, n_at_risk, n_events, survival), survival =
    Π_{t_j ≤ t} (1 - d_j / n_j) over event times. ``observed_col``
    (name or boolean Column): true = event observed, false =
    censored (contributes to n_at_risk until its duration, then
    leaves without an event). NULL durations/flags excluded.

    Scale shape — the textbook formulation is TWO global-order
    windows (cumulative counts for n_at_risk, cumulative product for
    S), both corpus-serializing. Here the corpus collapses in ONE
    combinable per-duration census groupBy; both prefixes run
    DISTRIBUTED over the census (``buckets.prefix_sums`` twice over
    one bucketing — counts first, then the log terms they
    determine), and the product is carried in log domain
    (exp of the prefix log-sum, ``ln(1 - d/n)`` spelled identically
    to the SQL oracle). No row-level data ever converges on one
    task; survival values round at the oracle boundary (float
    addition groups differ across engines by construction).
    """
    # d == n_risk (everyone remaining dies at the last event time)
    # would be ln(0): Spark's log yields NULL, DuckDB ERRORS — both
    # sides use a finite sentinel whose exp is exactly 0.0 instead
    # (it can only occur at the final event time, so it never
    # poisons a later prefix)
    def log_term(d_, n_risk):
        return (F.when((d_ > 0) & (d_ < n_risk),
                       F.log(1.0 - d_ / n_risk.cast("double")))
                .when(d_ > 0, F.lit(-1.0e6))
                .otherwise(0.0))

    return (_survival_census(df, duration_col, observed_col, log_term)
            .select("duration", "n_at_risk", "n_events",
                    F.exp(F.col("__tcum__")).alias("survival")))


def nelson_aalen(df: DataFrame, duration_col: str,
                 observed_col) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator, the additive
    companion of ``km_curve``: one row per distinct event time t
    with (duration, n_at_risk, n_events, cumhaz), where
    H(t) = Σ_{t_j ≤ t} d_j / n_j. Right-censored rows
    (``observed_col`` false) count toward n_at_risk until their
    duration, then leave without an event; NULL durations/flags are
    excluded.

    Scale shape — identical to km_curve's: ONE combinable
    per-duration census groupBy, then the census prefix
    (``buckets.prefix_sums``) carries the at-risk count and the
    hazard sum — no global-order window, no corpus on one task. The
    hazard is a plain sum (no log domain needed: d/n is finite for
    n ≥ d ≥ 0),
    so the only cross-engine float drift is summation grouping —
    round at the oracle boundary.
    """
    return (_survival_census(df, duration_col, observed_col,
                             lambda d_, n_risk: d_ / n_risk.cast("double"))
            .select("duration", "n_at_risk", "n_events",
                    F.col("__tcum__").alias("cumhaz")))


def inequality_metrics(df: DataFrame, col: str) -> DataFrame:
    """Gini coefficient + Theil index of a non-negative measure —
    the concentration/inequality screen (wealth, traffic, token
    frequency): ONE row (n, mean, gini, theil). Negative values
    raise (neither index is defined there); zeros are fine for Gini
    and contribute zero to Theil (lim x→0 of x·ln x = 0, the
    standard convention).

    Gini uses the tie-safe rank formula
        G = 2·Σ rank_i·x_i / (n·Σx) − (n+1)/n
    where tied values take ANY consistent ranks (a tied group's
    Σ rank·x is order-invariant), so average ranks from the same
    DISTRIBUTED census prefix sum as :func:`binary_auc` work —
    never a global-order window. Theil folds to the one-pass
    identity T = Σx·ln x/(n·μ) − ln μ, so it rides the SAME census
    aggregate (Σ c·v·ln v per distinct value) — the corpus is
    scanned exactly once.
    """
    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    v = F.col(col).cast("double")
    bad = df.filter(v < 0).limit(1).collect()
    if bad:
        raise ValueError(f"inequality_metrics: {col!r} has negative "
                         f"values — Gini/Theil undefined")
    cens = (df.filter(v.isNotNull())
            .groupBy(v.alias("__v__"))
            .agg(F.count(F.lit(1)).alias("__c__")))
    cens, totals = prefix_sums(
        with_range_bucket(pin(cens, eager=True), "__v__", "__b__"),
        "__b__", ["__v__"], {"__cum__": F.col("__c__")})
    n = totals["__cum__"]
    if n == 0:
        raise ValueError("inequality_metrics: no non-null values")
    avg_rank = (F.col("__cum__") - F.col("__c__")
                + (F.col("__c__") + 1) / 2.0)
    c = F.col("__c__")
    xlnx = F.when(F.col("__v__") > 0,
                  F.col("__v__") * F.log("__v__")).otherwise(0.0)
    agg = cens.agg(
        F.sum(avg_rank * F.col("__v__") * c).alias("__srx__"),
        F.sum(F.col("__v__") * c).alias("__sx__"),
        F.sum(xlnx * c).alias("__sxl__"))
    nn = float(n)
    gini = (2.0 * F.col("__srx__") / (F.lit(nn) * F.col("__sx__"))
            - F.lit((nn + 1.0) / nn))
    mean = F.col("__sx__") / F.lit(nn)
    theil = F.when(
        F.col("__sx__") > 0,
        F.col("__sxl__") / (F.lit(nn) * mean) - F.log(mean))
    return agg.select(F.lit(n).cast("long").alias("n"),
                      mean.alias("mean"), gini.alias("gini"),
                      theil.alias("theil"))


def weighted_quantiles(df: DataFrame, val_col: str,
                       weight_col, qs: list[float]) -> DataFrame:
    """Weighted quantiles: for each q return the smallest value v
    whose cumulative weight reaches q·W (the lower weighted-quantile
    convention). ``weight_col`` is a name or Column; NULL values /
    weights and non-positive weights are excluded. One row per q:
    (q, value). Beyond-reference: the frequency-table quantile a
    token-count or row-multiplicity census needs without exploding
    weights into rows.

    Scale shape — the census discipline: ONE combinable
    groupBy(value) weight census, a DISTRIBUTED cumulative weight
    (``buckets.prefix_sums``), then each q
    selects min(value | cw >= q·W) in ONE explode+filter aggregate
    over the census — never a global-order window, never all qs as
    separate jobs. With integer weights every comparison is exact
    cross-engine (integer cumulative sums).
    """
    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    if not qs:
        raise ValueError("weighted_quantiles requires at least one q")
    if any(q <= 0 or q > 1 for q in qs):
        raise ValueError("quantiles must be in (0, 1]")
    v = F.col(val_col)
    w = (F.col(weight_col) if isinstance(weight_col, str)
         else weight_col)
    cens = (df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
            .groupBy(v.alias("__v__"))
            .agg(F.sum(w).alias("__w__")))
    cens, totals = prefix_sums(
        with_range_bucket(pin(cens, eager=True), "__v__", "__b__"),
        "__b__", ["__v__"], {"__gcw__": F.col("__w__")})
    total = totals["__gcw__"]
    qarr = F.array(*[F.lit(float(q)) for q in sorted(set(qs))])
    return (cens.select("__v__", "__gcw__",
                    F.explode(qarr).alias("q"))
            .filter(F.col("__gcw__") >= F.col("q") * F.lit(total))
            .groupBy("q")
            .agg(F.min("__v__").alias("value")))


def seasonal_anomalies(df: DataFrame, ts_col: str, val_col: str,
                       period: str = "hour",
                       k: float = 3.0) -> DataFrame:
    """Seasonal anomaly detection: model value as its seasonal-bucket
    mean (hour-of-day / day-of-week / day-of-month), pool the
    within-bucket variance into one residual σ, and return the rows
    where |value − seasonal mean| > k·σ with their z-scores.
    Beyond-reference: the drift/outage screen an ingest-volume or
    metrics table needs.

    Scale shape: TWO corpus scans total — scan 1 is one combinable
    groupBy over the ≤31-row seasonal key collecting (n, Σx, Σx²)
    per bucket, from which the pooled residual variance
    Σ_b(ssq_b − s_b²/n_b)/N is assembled on ≤31 rows (no residual
    materialization pass); scan 2 joins the broadcast bucket means
    back and filters row-locally. Never a window, never a third
    pass.
    """
    part_fn = {"hour": F.hour, "dow": F.dayofweek,
               "dom": F.dayofmonth}.get(period)
    if part_fn is None:
        raise ValueError(f"unknown period: {period!r}")
    t, x = F.col(ts_col), F.col(val_col)
    base = df.filter(t.isNotNull() & x.isNotNull())
    m = (base.groupBy(part_fn(t).alias("__p__"))
         .agg(F.count(F.lit(1)).alias("__n__"),
              F.sum(x).alias("__s__"),
              F.sum(x * x).alias("__ssq__")))
    g = m.agg(
        (F.sum(F.col("__ssq__")
               - F.col("__s__") * F.col("__s__") / F.col("__n__"))
         / F.sum("__n__")).alias("__var__"))
    means = m.select("__p__", (F.col("__s__") / F.col("__n__"))
                     .alias("__mean__"))
    joined = (base.join(F.broadcast(means),
                        part_fn(t) == F.col("__p__"))
              .crossJoin(F.broadcast(g)))
    sigma = F.sqrt(F.col("__var__"))
    resid = x - F.col("__mean__")
    return (joined.filter(F.abs(resid) > F.lit(k) * sigma)
            .select(*df.columns,
                    F.col("__mean__").alias("expected"),
                    (resid / sigma).alias("z")))


def zipf_fit(census: DataFrame, count_col: str,
             fmin: int = 5) -> DataFrame:
    """Power-law (Zipf) exponent MLE over a frequency census — the
    token-distribution health check for a pretraining corpus (natural
    text sits near α≈2; spam/boilerplate skews it). Input is a
    census (one row per item with its count ``count_col``); each
    distinct item with count >= fmin is one observation of the
    discrete power law P(f) ∝ f^-α, fitted with the
    Clauset-Shalizi-Newman continuous MLE
    α = 1 + n / Σ ln(f_i / (fmin - 0.5)). One row:
    (n_tail, fmin, f_max, alpha). Beyond-reference.

    Scale shape: ONE combinable aggregation over the census — the
    corpus-sized explode/groupBy that BUILDS the census is the
    caller's (already-distributed) concern; the fit adds a single
    reduce. No collect, no window, no join.
    """
    if fmin < 2:
        raise ValueError("fmin must be >= 2 (ln(f/(fmin-0.5)) must "
                         "be positive for every tail item)")
    f = F.col(count_col)
    tail = census.filter(f >= fmin)
    return tail.agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.lit(fmin).alias("fmin"),
        F.max(f).alias("f_max"),
        (1.0 + F.count(F.lit(1))
         / F.sum(F.log(f.cast("double") / (fmin - 0.5))))
        .alias("alpha"))


def logrank_test(df: DataFrame, duration_col: str, observed_col,
                 group_col: str) -> DataFrame:
    """Two-sample log-rank test — does survival differ between the
    two groups of ``group_col``? One row: (n_a, n_b, chi2) with
    chi2 = (Σ(O_a − E_a))² / ΣV over event times, the standard
    hypergeometric-variance form. Groups beyond two raise. The
    KM companion (:func:`km_curve` draws the curves; this tests
    them).

    Scale shape — the km_curve census discipline: ONE combinable
    per-(duration) census carrying per-group event/censor counts,
    at-risk counts via the SAME census prefix
    (``buckets.prefix_sums``, one collect for both groups), then one
    scalar aggregate over the census. Never a global-order window.
    """
    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    t = F.col(duration_col)
    obs = (F.col(observed_col) if isinstance(observed_col, str)
           else observed_col).cast("boolean")
    g = F.col(group_col)
    base = df.filter(t.isNotNull() & obs.isNotNull() & g.isNotNull())
    groups = [r[0] for r in
              base.select(g).distinct().limit(3).collect()]
    if len(groups) != 2:
        raise ValueError("logrank_test requires exactly two groups; "
                         f"got {groups!r}")
    ga, gb = sorted(groups, key=str)
    is_a = g == F.lit(ga)
    cens = (base.groupBy(t.alias("__t__"))
            .agg(F.count(F.when(obs & is_a, 1)).alias("__da__"),
                 F.count(F.when(obs & ~is_a, 1)).alias("__db__"),
                 F.count(F.when(is_a, 1)).alias("__na__"),
                 F.count(F.when(~is_a, 1)).alias("__nb__")))
    cens, totals = prefix_sums(
        with_range_bucket(pin(cens, eager=True), "__t__", "__b__"),
        "__b__", ["__t__"], {"__ca__": F.col("__na__"),
                             "__cb__": F.col("__nb__")})
    # at-risk = everyone with duration >= t, per group
    ra = F.lit(totals["__ca__"]) - F.col("__ca__") + F.col("__na__")
    rb = F.lit(totals["__cb__"]) - F.col("__cb__") + F.col("__nb__")
    d = F.col("__da__") + F.col("__db__")
    n = ra + rb
    e_a = ra.cast("double") * d / n
    v = F.when(n > 1,
               (ra.cast("double") * rb * d * (n - d))
               / (n.cast("double") * n * (n - 1))).otherwise(0.0)
    ev = cens.filter(d > 0).agg(
        F.sum(F.col("__da__") - e_a).alias("__o_e__"),
        F.sum(v).alias("__v__"))
    return ev.select(
        F.lit(int(totals["__ca__"])).alias("n_a"),
        F.lit(int(totals["__cb__"])).alias("n_b"),
        F.when(F.col("__v__") > 0,
               F.col("__o_e__") * F.col("__o_e__") / F.col("__v__"))
        .alias("chi2"))


def psi_drift(expected: DataFrame, actual: DataFrame, col: str,
              bins: int = 10, exact: bool = True,
              accuracy: int = 10000) -> DataFrame:
    """Population Stability Index between a baseline sample and a
    live sample of the same numeric column — THE standard feature /
    score drift alarm (<0.1 stable, >0.25 shifted). Bin edges come
    from the BASELINE's exact quantiles (equi-depth, collapsed when
    duplicated); both sides bucket row-locally against the broadcast
    edges; PSI = Σ (p−q)·ln(p/q) with add-half-count smoothing so
    empty cells stay finite. One row: (bins, n_expected, n_actual,
    psi).

    Scale shape: one exact-percentile fit on the baseline (the
    group_quantiles contract), ONE combinable bucket-count groupBy
    per side (≤bins rows each), and a ≤bins-row join — corpus scans:
    one per side.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    x = F.col(col)
    qs = [i / bins for i in range(1, bins)]
    # exact percentile buffers every baseline value in one task —
    # exact=False is the 100 TB valve (bounded-sketch edges; PSI is
    # a binned statistic, sketch-edge wobble only moves bin borders)
    pct = (F.percentile if exact
           else lambda c, q: F.percentile_approx(c, q,
                                                 F.lit(accuracy)))
    edges = (expected.filter(x.isNotNull())
             .agg(pct(x, F.array(*[F.lit(q) for q in qs]))
                  .alias("e")).collect()[0]["e"])
    if edges is None:
        raise ValueError(f"no non-null values in baseline {col!r}")
    edges = sorted(set(edges))
    from tablite_spark.functions.buckets import bucket_expr

    def census(d, name):
        return (d.filter(x.isNotNull())
                .select(bucket_expr(col, edges).alias("bin"))
                .groupBy("bin")
                .agg(F.count(F.lit(1)).alias(name)))
    ce = census(expected, "ne")
    ca = census(actual, "na")
    j = ce.join(ca, "bin", "full")
    tot = j.agg(F.sum("ne").alias("te"), F.sum("na").alias("ta"))
    k = len(edges) + 1
    # add-half smoothing keeps ln finite on empty cells
    p = (F.coalesce(F.col("ne"), F.lit(0)) + 0.5) \
        / (F.col("te") + 0.5 * k)
    q = (F.coalesce(F.col("na"), F.lit(0)) + 0.5) \
        / (F.col("ta") + 0.5 * k)
    return (j.crossJoin(F.broadcast(tot))
            .agg(F.lit(k).alias("bins"),
                 F.max("te").alias("n_expected"),
                 F.max("ta").alias("n_actual"),
                 F.sum((p - q) * F.log(p / q)).alias("psi")))


def column_entropy(df: DataFrame, cols: list[str]) -> DataFrame:
    """Shannon entropy (and the cardinality-normalized form) of one
    or more discrete columns — the feature-informativeness /
    near-constant-column screen. One row per column:
    (column, n, n_distinct, entropy, norm_entropy); entropy in nats,
    norm = H/ln(k) (NULL for constant columns). NULL cells are
    excluded per column.

    Scale shape: ALL columns melt through ONE stack projection and
    collapse in ONE combinable (column, value) census groupBy; the
    per-column fold is a second aggregate over the census
    (vocab-bounded). One corpus scan for k columns, no windows, the
    mutual_information census discipline."""
    if not cols:
        raise ValueError("column_entropy requires at least one column")
    pairs = F.array(*[
        F.struct(F.lit(c).alias("col"),
                 F.col(c).cast("string").alias("val"))
        for c in cols])
    cens = (df.select(F.explode(pairs).alias("p"))
            .filter(F.col("p.val").isNotNull())
            .groupBy(F.col("p.col").alias("column"),
                     F.col("p.val").alias("__v__"))
            .agg(F.count(F.lit(1)).alias("__c__")))
    per = (cens.groupBy("column")
           .agg(F.sum("__c__").alias("n"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum(F.col("__c__")
                      * F.log(F.col("__c__").cast("double")))
                .alias("__clc__")))
    nn = F.col("n").cast("double")
    h = F.log(nn) - F.col("__clc__") / nn
    return per.select(
        "column", "n", "n_distinct", h.alias("entropy"),
        F.when(F.col("n_distinct") > 1,
               h / F.log(F.col("n_distinct").cast("double")))
        .alias("norm_entropy"))


# Poisson(1) inverse-CDF thresholds (cumulative pmf e^-1 Σ 1/k!):
# P(X<=k) for k = 0..6; u beyond the last threshold maps to 7.
_POIS1_CDF = [0.36787944117144233, 0.7357588823428847,
              0.9196986029286058, 0.9810118431238462,
              0.9963401531726563, 0.9994058151824183,
              0.9999167588507119]


def bootstrap_ci(df: DataFrame, val_col: str, id_col: str,
                 n_resamples: int = 100,
                 alpha: float = 0.05) -> DataFrame:
    """Percentile-bootstrap confidence interval for the MEAN via the
    distributed POISSON BOOTSTRAP (Chamandy et al., Google 2012):
    every row joins resample b with weight ~ Poisson(1), so no
    resample ever needs a global sample-with-replacement pass.
    Weights are DETERMINISTIC — u = md5(id·b)-derived uniform
    through the Poisson(1) inverse CDF — so reruns, retries, AND the
    DuckDB oracle reproduce the exact resamples. One row:
    (n, estimate, lo, hi, n_resamples).

    Scale shape: the ×B explode is row-local and feeds straight into
    a combinable groupBy(b) — partial aggregation collapses each
    task to ≤B rows, so the shuffle carries B·tasks rows, never
    B·corpus. The B-row resample frame takes one exact-percentile
    pass for the CI. Statistical caveats (standard for the Poisson
    bootstrap): each resample's size is Poisson(n), not exactly n;
    and the inverse-CDF table truncates at weight 7 — the ~8.3e-5
    upper tail of Poisson(1) maps to 7 instead of 8+, a bias of
    ~1e-5 in expected weight, far below bootstrap noise at any
    practical n. The DuckDB oracle replays the same 7-term table,
    so cross-engine parity is exact.
    """
    if n_resamples < 2:
        raise ValueError("n_resamples must be >= 2")
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    x, rid = F.col(val_col), F.col(id_col)
    base = df.filter(x.isNotNull() & rid.isNotNull())
    # the xB explode multiplies whatever parallelism the source has:
    # a single-file source would push B x corpus through ONE task
    # (12 s for 15M exploded rows at sf0.1 — caught by the bench).
    # Fan out to the session's parallelism first; at real corpus
    # scale the source is already wide and this branch never fires.
    base = respread(base)
    b = F.explode(F.sequence(F.lit(0),
                             F.lit(n_resamples - 1))).alias("__b__")
    rows = base.select(x.alias("__x__"),
                       rid.alias("__id__"), b)
    # materialize u as its OWN projection: the 8-branch inverse-CDF
    # CASE references u once per branch, and md5+conv inlined into
    # every branch cost ~15x (31 s for 15M rows at sf0.1 — caught by
    # the bench); as a projected column the hash evaluates once/row
    u = (F.conv(F.substring(F.md5(F.concat_ws(
        "_", F.col("__id__"), F.col("__b__"))), 1, 8), 16, 10)
        .cast("long") / F.lit(4294967296.0))
    rows = rows.select("__x__", "__b__", u.alias("__u__"))
    uc = F.col("__u__")
    w = F.lit(7)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(uc < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    per_b = (rows.withColumn("__w__", w)
             .groupBy("__b__")
             .agg((F.sum(F.col("__w__") * F.col("__x__"))
                   / F.sum("__w__")).alias("__m__")))
    est = base.agg(F.avg(x).alias("__est__"),
                   F.count(F.lit(1)).alias("__n__"))
    ci = per_b.agg(
        F.percentile(F.col("__m__"),
                     F.array(F.lit(alpha / 2),
                             F.lit(1 - alpha / 2))).alias("__ci__"),
        F.count(F.lit(1)).alias("__nb__"))
    return (est.crossJoin(F.broadcast(ci))
            .select(F.col("__n__").alias("n"),
                    F.col("__est__").alias("estimate"),
                    F.col("__ci__")[0].alias("lo"),
                    F.col("__ci__")[1].alias("hi"),
                    F.col("__nb__").alias("n_resamples")))


def mann_whitney_u(df: DataFrame, group_col: str, val_col: str,
                   group_a, group_b) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test between the
    ``val_col`` distributions of two groups: ONE row
    (n_a, n_b, u_a_x2, z) where ``u_a_x2`` = 2·U_a held as an exact
    BIGINT (average ranks under ties are half-integers, so DOUBLING
    the rank sum keeps every intermediate an integer — no float
    summation order anywhere before the final z division) and ``z``
    is the tie-corrected normal approximation
    z = (U_a − n_a·n_b/2) / sqrt(n_a·n_b/12·((N+1) − Σ(t³−t)/(N(N−1))))
    with t = per-value tie counts. z is NULL when the variance is 0
    (all values tied).

    Scale shape — the rank-sum trap is a global ``Window.orderBy``
    rank over row-level data; like :func:`ks_test_2sample` this runs
    on ONE combinable per-value census groupBy, a DISTRIBUTED
    exclusive prefix count over value order
    (``buckets.prefix_sums`` minus the own count), and two scalar
    aggregates. avg_rank(v) = less(v) + (t(v)+1)/2, so
    2·R_a = Σ c_a(v)·(2·less(v) + t(v) + 1) — exact int64 until the
    corpus nears 2^63 rank-units (~3e9 rows), and Σ(t³−t) accumulates
    in decimal(38,0) so heavy ties can't overflow.

    Reference scope: beyond-reference (tablite has no hypothesis
    tests); the distribution-shift screen an ingest pipeline runs
    next to PSI/KS when the metric is ordinal.
    """
    cens, na, nb = _two_group_census(df, group_col, val_col, group_a,
                                     group_b, "mann_whitney_u")
    n = na + nb
    # exclusive prefix: pooled count strictly BELOW this value
    less = F.col("__cumt__") - F.col("__ct__")
    r_a_x2 = F.sum(F.col("__ca__")
                   * (2 * less + F.col("__ct__") + 1))
    ties = F.sum((F.col("__ct__").cast("decimal(38,0)")
                  * F.col("__ct__") * F.col("__ct__"))
                 - F.col("__ct__"))
    one = cens.agg(r_a_x2.alias("__r2__"), ties.alias("__tt__"))
    u_a_x2 = F.col("__r2__") - F.lit(na) * F.lit(na + 1)
    var = (F.lit(float(na) * float(nb) / 12.0)
           * (F.lit(float(n + 1))
              - F.col("__tt__").cast("double")
              / F.lit(float(n) * float(n - 1))))
    z = F.when(var > 0,
               (u_a_x2.cast("double") / 2.0
                - F.lit(float(na) * float(nb) / 2.0))
               / F.sqrt(var)).otherwise(F.lit(None))
    return one.select(F.lit(na).cast("long").alias("n_a"),
                      F.lit(nb).cast("long").alias("n_b"),
                      u_a_x2.cast("long").alias("u_a_x2"),
                      z.alias("z"))


def grouped_weighted_quantiles(df: DataFrame, keys: list[str],
                               val_col: str, weight_col,
                               qs: list[float]) -> DataFrame:
    """Per-GROUP weighted quantiles: for each group and each q, the
    smallest value whose cumulative weight reaches q·W_group (the
    lower weighted-quantile convention of :func:`weighted_quantiles`,
    which this generalizes from one global series to per-key series).
    NULL values/weights and non-positive weights are excluded; a
    group whose rows are all excluded disappears. Long output:
    (keys..., q, value). With integer weights every cumulative
    comparison multiplies exact operands once, so the pick is
    engine-exact.

    Scale shape: ONE combinable (keys, value) weight census, then a
    cumulative-weight window PARTITIONED BY the group over the
    group's census — each task holds one group's distinct values,
    the :func:`group_quantiles` exact-path contract (right when
    per-group value cardinality is bounded: discrete metrics,
    cents-quantized money). For ONE giant ungrouped series use
    :func:`weighted_quantiles`, whose range-bucket prefix
    distributes a single group's census across tasks.
    """
    from pyspark.sql import Window

    if not keys:
        raise ValueError("grouped_weighted_quantiles needs grouping "
                         "keys; use weighted_quantiles for a global "
                         "series")
    if not qs:
        raise ValueError("needs at least one q")
    if any(q <= 0 or q > 1 for q in qs):
        raise ValueError("quantiles must be in (0, 1]")
    v = F.col(val_col)
    w = (F.col(weight_col) if isinstance(weight_col, str)
         else weight_col)
    cens = (df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
            .groupBy(*[F.col(k) for k in keys], v.alias("__v__"))
            .agg(F.sum(w).alias("__w__")))
    win = (Window.partitionBy(*keys).orderBy("__v__")
           .rowsBetween(Window.unboundedPreceding,
                        Window.currentRow))
    tot = (Window.partitionBy(*keys)
           .rowsBetween(Window.unboundedPreceding,
                        Window.unboundedFollowing))
    cens = (cens.withColumn("__cw__", F.sum("__w__").over(win))
            .withColumn("__W__", F.sum("__w__").over(tot)))
    qarr = F.array(*[F.lit(float(q)) for q in sorted(set(qs))])
    return (cens.select(*keys, "__v__", "__cw__", "__W__",
                        F.explode(qarr).alias("q"))
            .filter(F.col("__cw__")
                    >= F.col("q") * F.col("__W__"))
            .groupBy(*keys, "q")
            .agg(F.min("__v__").alias("value")))
