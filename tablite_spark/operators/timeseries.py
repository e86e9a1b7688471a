"""Time-series resampling and event-funnel analytics (beyond the
reference: the reference's date handling stops at ``xround`` timestamp
bucketing — see ``/root/reference/tablite/redux.py`` filters and
``tools/xround``; a telemetry/market table at 100 TB needs first-class
bucketed OHLC bars and ordered funnels, so they're first-class here).

Both operators are single-groupBy / few-join shapes with NO window
functions: a window over a hot (symbol) or hot (user) partition would
serialize that key through one task, while ``min_by``/``max_by`` and
conditional ``min`` aggregates are combinable — partial aggregation
absorbs hot keys map-side and only (group, 2×value) pairs shuffle.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin

__all__ = ["ohlc_resample", "funnel", "retention_cohorts",
           "interpolate_at", "ema_smooth", "rolling_agg",
           "state_intervals", "path_ngrams", "markov_transitions",
           "cross_correlation", "attribute_conversions",
           "cusum_changepoint", "group_cusum", "session_summary",
           "additive_seasonal", "interarrival_stats", "active_users",
           "multi_touch_attribution", "time_weighted_avg"]


def _order_key(ts_col: str, tiebreak: str | None):
    """Lexicographic total-order key for min_by/max_by ties.

    A microsecond-formatted timestamp string, optionally extended with
    a zero-padded unique id, orders identically in every engine (and
    in a DuckDB oracle via strftime %f + lpad) — unlike struct
    ordering, which DuckDB's arg_min/arg_max don't accept.
    """
    key = F.date_format(F.col(ts_col), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    if tiebreak is not None:
        key = F.concat(key, F.lit("|"),
                       F.lpad(F.col(tiebreak).cast("string"), 12, "0"))
    return key


def ohlc_resample(df: DataFrame, ts_col: str, val_col: str,
                  every: str = "1 hour",
                  by: list[str] | None = None,
                  tiebreak: str | None = None) -> DataFrame:
    """Resample an event stream into OHLC bars: per ``by``-group and
    ``every``-sized time bucket, the first (open), max (high), min
    (low) and last (close) value, plus row count and sum.

    Scale shape: ONE combinable groupBy — ``min_by``/``max_by`` keep a
    single (key, value) pair per partial state, so a hot symbol or a
    hot hour aggregates map-side and the shuffle carries one row per
    (group, bucket). No window functions, no self-joins: the classic
    "first/last per bucket" formulations (row_number over a bucket
    window, or a min-ts self-join) respectively serialize hot buckets
    through one task and scan twice. Bucket edges come from
    ``F.window`` (epoch-aligned tumbling), so at 100 TB the bar
    boundaries are a pure row-local function — bars for different
    time ranges land in different shuffle partitions and partition
    pruning on a date-partitioned source still applies.

    ``tiebreak``: unique column breaking equal-timestamp ties so
    open/close are deterministic under any partitioning (without it,
    ties resolve arbitrarily — fine for data with unique timestamps).
    """
    by = list(by or [])
    key = _order_key(ts_col, tiebreak)
    v = F.col(val_col)
    out = (df.groupBy(*by, F.window(ts_col, every).alias("w"))
             .agg(F.min_by(v, key).alias("open"),
                  F.max(v).alias("high"),
                  F.min(v).alias("low"),
                  F.max_by(v, key).alias("close"),
                  F.count(F.lit(1)).alias("n_events"),
                  F.sum(v).alias("sum_value")))
    return out.select(*by, F.col("w.start").alias("bucket_start"),
                      "open", "high", "low", "close", "n_events",
                      "sum_value")


def funnel(events: DataFrame, steps: list[str], ts_col: str = "ts",
           user_col: str = "user_id",
           type_col: str = "event_type",
           within_seconds: int | None = None) -> DataFrame:
    """Ordered funnel: per user, the earliest time each successive
    step was completed STRICTLY AFTER the previous step's time
    (view -> click -> purchase). Returns one row per user who
    completed step 0, with a nullable ``t_<step>`` timestamp per step
    (null = dropped out at that step). ``within_seconds`` bounds each
    hop: the windowed-funnel semantics where a conversion only
    counts within the attribution window.

    Scale shape: per step, a highly selective ``type = step`` filter
    then a combinable conditional-min groupBy(user); successive steps
    join on the user key. Every shuffle in the chain is hash(user) —
    with AQE the exchange is reused across stages — and only
    (user, timestamp) pairs move, never the event payload or a
    per-user ordered window (which would serialize hot users).

    Source-scan cost: the plan filters the events frame once per
    step — each branch pushes ``type = step`` into the scan, so on a
    type-partitioned (or dictionary-filtered parquet) source every
    branch reads only its own step's rows and the total IO is one
    logical pass.
    """
    if len(steps) < 1:
        raise ValueError("funnel needs at least one step")
    ts, u = F.col(ts_col), F.col(user_col)
    cols = [f"t_{s}" for s in steps]

    def step_events(s):
        return (events.filter(F.col(type_col) == s)
                .select(u.alias("user_id_"), ts.alias("ts_")))

    cur = (step_events(steps[0])
           .groupBy("user_id_")
           .agg(F.min("ts_").alias(cols[0])))
    for i, s in enumerate(steps[1:], 1):
        after = F.col("ts_") > F.col("prev_")
        if within_seconds is not None:
            # windowed funnel: the step must ALSO land within
            # within_seconds of the previous step (integer-micro
            # comparison — sub-second exact on both engines)
            after = after & (
                F.unix_micros(F.col("ts_").cast("timestamp"))
                - F.unix_micros(F.col("prev_").cast("timestamp"))
                <= within_seconds * 1_000_000)
        nxt = (step_events(s)
               .join(cur.select("user_id_", F.col(cols[i - 1])
                                .alias("prev_")), "user_id_")
               .filter(after)
               .groupBy("user_id_")
               .agg(F.min("ts_").alias(cols[i])))
        cur = cur.join(nxt, "user_id_", "left")
    return cur.withColumnRenamed("user_id_", user_col)


def retention_cohorts(events: DataFrame, ts_col: str = "ts",
                      user_col: str = "user_id",
                      every: str = "1 week") -> DataFrame:
    """Cohort retention matrix: users are cohorted by the time bucket
    of their FIRST event; for each (cohort_start, period) the matrix
    counts the distinct cohort users active ``period`` buckets after
    their cohort bucket (period 0 = the cohort bucket itself, so its
    count is the cohort size).

    Scale shape: cohorting is ONE combinable min(ts) groupBy(user);
    activity buckets are a row-local ``F.window``; the join back is
    user-keyed (hash, AQE-reusable with the groupBy exchange); the
    matrix is one count_distinct(user) groupBy over (cohort, period)
    rows that carry only ids — no event payloads, no window
    functions, no per-user sequence state. A 100M-user cohort and a
    3-user cohort cost the same plan; count_distinct shuffles
    (cohort, period, user) once which partial aggregation already
    deduplicated map-side.

    ``every`` must be a fixed-length interval (weeks/days/hours —
    calendar months vary in length and don't form an epoch-aligned
    grid; use days for month-ish cohorts).
    """
    bucket = F.window(F.col(ts_col), every)["start"]
    first = (events.groupBy(F.col(user_col).alias("user_"))
             .agg(F.min(ts_col).alias("first_ts_")))
    cohort = first.select(
        "user_", F.window(F.col("first_ts_"), every)["start"]
        .alias("cohort_start"))
    active = events.select(F.col(user_col).alias("user_"),
                           bucket.alias("bucket_")).distinct()
    # bucket length in seconds, derived from `every` via a probe
    # window (end - start) so callers never restate it
    probe = F.window(F.lit("2000-06-15 12:00:00").cast("timestamp"), every)
    blen = F.unix_timestamp(probe["end"]) - F.unix_timestamp(probe["start"])
    joined = (active.join(cohort, "user_")
              .withColumn("period",
                          ((F.unix_timestamp("bucket_")
                            - F.unix_timestamp("cohort_start"))
                           / blen).cast("long")))
    return (joined.groupBy("cohort_start", "period")
            .agg(F.count_distinct("user_").alias("n_users")))


def interpolate_at(series: DataFrame, targets: DataFrame,
                   ts_col: str, val_col: str,
                   by: list[str] | None = None,
                   method: str = "linear",
                   out_col: str = "value") -> DataFrame:
    """Align a sampled series onto target timestamps: for every target
    row, the series value interpolated at the target's ``ts_col``
    (per ``by`` group) — sensor fusion / market-data alignment.
    The result lands in ``out_col`` (default ``"value"``); if
    ``targets`` already carries a column of that name — likely for
    sensor/market target frames — a ValueError names the collision
    instead of silently overwriting it, mirroring asof_join's guard.

    ``method="linear"``: straight line between the nearest sample
    at-or-before and at-or-after the target (a sample exactly at the
    target returns its value); null when either side is missing.
    ``method="locf"``: last observation carried forward (null before
    the first sample).

    Scale shape: two :func:`~tablite_spark.operators.joins.asof_join`
    passes (backward + forward) — each is the union + ordered-carry
    form, ONE shuffle on the group keys, no join candidate blowup —
    then a row-local lerp. Duplicate samples at one (group, ts)
    deduplicate to max(value) inside asof_join (deterministic under
    any partitioning; mirrored in the oracle).
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    from tablite_spark.operators.joins import asof_join
    by = list(by or [])
    if out_col in targets.columns:
        raise ValueError(
            f"targets already has a column named {out_col!r}; pass "
            f"out_col=<fresh name> so the interpolated value does not "
            f"overwrite it")
    is_ts = isinstance(series.schema[ts_col].dataType,
                       (TimestampType, TimestampNTZType))
    # NTZ first casts through the session-UTC timestamp (unix_micros
    # accepts only TIMESTAMP); all three operands use the same path so
    # the lerp deltas are exact
    num = (lambda c: F.unix_micros(c.cast("timestamp")).cast("double")) \
        if is_ts else (lambda c: c.cast("double"))

    prev = series.select(*by, ts_col,
                         F.col(ts_col).alias("__prev_ts__"),
                         F.col(val_col).alias("__prev_val__"))
    out = asof_join(targets, prev, on=ts_col, by=by,
                    direction="backward",
                    right_cols=["__prev_ts__", "__prev_val__"])
    if method == "locf":
        return (out.withColumn(out_col, F.col("__prev_val__")
                               .cast("double"))
                .drop("__prev_ts__", "__prev_val__"))
    if method != "linear":
        raise ValueError("method must be 'linear' or 'locf'")
    nxt = series.select(*by, ts_col,
                        F.col(ts_col).alias("__next_ts__"),
                        F.col(val_col).alias("__next_val__"))
    out = asof_join(out, nxt, on=ts_col, by=by, direction="forward",
                    right_cols=["__next_ts__", "__next_val__"])
    t = num(F.col(ts_col))
    t0, t1 = num(F.col("__prev_ts__")), num(F.col("__next_ts__"))
    v0 = F.col("__prev_val__").cast("double")
    v1 = F.col("__next_val__").cast("double")
    val = (F.when(F.col("__prev_ts__").isNull()
                  | F.col("__next_ts__").isNull(), F.lit(None))
           .when(F.col("__prev_ts__") == F.col("__next_ts__"), v0)
           .otherwise(v0 + (v1 - v0) * ((t - t0) / (t1 - t0))))
    return (out.withColumn(out_col, val)
            .drop("__prev_ts__", "__prev_val__",
                  "__next_ts__", "__next_val__"))


def ema_smooth(df: DataFrame, ts_col: str, val_col: str,
               by: list[str], alpha: float = 0.25,
               tiebreak: list[str] | None = None,
               out_col: str = "ema") -> DataFrame:
    """Exponential moving average per ``by`` group in ``(ts_col,
    *tiebreak)`` order: ``ema_i = (1-alpha) * ema_{i-1} + alpha * x_i``
    seeded with ``ema_0 = x_0`` (pandas ``ewm(adjust=False)``
    semantics) — trend smoothing for market/sensor/metric streams.

    Why not pure expressions: the recurrence has a closed form
    ``alpha * sum (1-alpha)^(i-j) x_j`` but the prefix-sum rewrite
    needs ``(1-alpha)^(-j)`` factors that overflow float64 after a
    few thousand rows, so there is no numerically-safe whole-stage
    codegen formulation. This is the documented custom-operator path:
    the recurrence runs in pandas' C ``ewm`` kernel — never a
    row-at-a-time UDF.

    Scale shape: ONE shuffle (hash-repartition on the group keys,
    groups co-located), then ``mapInPandas`` with ONE Arrow pass per
    partition and an in-process pandas groupby — not per-group
    ``applyInPandas``: measured 5.0 s vs 0.79 s warm on the sf0.1
    events shape (150 small groups; the per-group plan's fixed
    serialization/launch overhead dominates small groups, while at
    20M rows / 100k groups both forms are kernel-bound at ~24 s).
    A single pathologically hot key serializes ITS OWN rows through
    one task — inherent to any per-key order-dependent recurrence —
    while every other key proceeds in parallel; payload is only the
    projected (keys, ts, tiebreak, value) columns, and the
    per-partition buffer equals what the per-group form already held
    for its largest group.

    Rows with NULL ``val_col`` pass through with a NULL ``out_col``
    and do NOT advance the recurrence (ewm ``ignore_na`` off-grid
    rows are simply skipped). Exactness: with alpha exactly
    representable in binary (0.25, 0.5, ...) the float op sequence is
    deterministic and replayable bit-for-bit by an independent
    engine's recursive CTE — the DuckDB oracle runs the identical
    recurrence.
    """
    if not by:
        raise ValueError("ema_smooth needs at least one group key "
                         "(a global EMA is a single sequential "
                         "stream — repartition it by a real key)")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if out_col in df.columns:
        raise ValueError(f"df already has a column named {out_col!r}")
    tb = list(tiebreak or [])
    order_cols = [ts_col] + tb
    cols = list(dict.fromkeys(list(by) + order_cols + [val_col]))
    proj = df.select(*cols)
    # fresh StructType: .add() would MUTATE the frame's cached schema
    # object and desync python-side df.columns from the JVM plan
    from pyspark.sql.types import DoubleType, StructField, StructType
    schema = StructType(list(proj.schema.fields)
                        + [StructField(out_col, DoubleType())])
    a = float(alpha)
    keys = list(by)

    def ema(batches):
        import numpy as np
        import pandas as pd
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) \
            .sort_values(keys + order_cols, kind="mergesort")
        v = pdf[val_col].astype("float64")
        masked = v.where(v.notna())
        # dropna=False: a NULL group key is its own group, matching
        # Spark groupBy semantics
        e = masked.groupby([pdf[k] for k in keys], sort=False,
                           dropna=False) \
            .transform(lambda s: s.ewm(alpha=a, adjust=False,
                                       ignore_na=True).mean())
        pdf[out_col] = np.where(v.notna(), e, np.nan)
        yield pdf

    return proj.repartition(*[F.col(k) for k in keys]) \
        .mapInPandas(ema, schema)


_UNIT_US = {"second": 1_000_000, "minute": 60_000_000,
            "hour": 3_600_000_000, "day": 86_400_000_000}


def _halo_buckets(df: DataFrame, ts_col: str, span_us: int,
                  factor: int = 4):
    """Time-range bucketing with a trailing halo — the shuffle key
    that makes UNGROUPED rolling aggregates distributed.

    Each row lands in the bucket starting at
    ``ts_us - pmod(ts_us, factor*span_us)`` (``__bkt__``, core rows),
    and rows within ``span_us`` of their bucket's end are DUPLICATED
    into the next bucket (halo rows, ``__core__ = false``). Because
    ``factor >= 1`` keeps the bucket at least as wide as the frame, a
    trailing ``[ts - span, ts]`` frame never reaches further back
    than the immediately preceding bucket — so every core row's frame
    is complete inside its own partition and halo rows' outputs are
    simply discarded. Duplication cost is ~1/factor of the corpus;
    parallelism is (time range)/(factor·span) buckets. The same
    carry discipline as ``functions/buckets.py``'s prefix-sum halos.
    """
    bucket_us = factor * span_us
    ts = F.col(ts_col)
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        ts = ts.cast("timestamp")
    us = F.unix_micros(ts)
    bstart = us - F.pmod(us, F.lit(bucket_us))
    core = (df.withColumn("__bkt__", bstart)
            .withColumn("__core__", F.lit(True)))
    halo = (df.filter(us >= bstart + F.lit(bucket_us - span_us))
            .withColumn("__bkt__", bstart + F.lit(bucket_us))
            .withColumn("__core__", F.lit(False)))
    return core.unionByName(halo)


def rolling_agg(df: DataFrame, ts_col: str, val_col: str,
                by: list[str], window: str,
                funcs: tuple[str, ...] = ("avg", "min", "max",
                                          "count")) -> DataFrame:
    """Trailing time-range rolling aggregates: for every row, the
    aggregate of ``val_col`` over the rows of the same ``by`` group
    whose timestamp lies in ``[ts - window, ts]`` (inclusive both
    ends — SQL ``RANGE BETWEEN INTERVAL ... PRECEDING AND CURRENT
    ROW`` semantics, so duplicate timestamps are frame PEERS and the
    result is deterministic under any tie order). ``window`` is a
    fixed-length interval like ``'15 minutes'`` (seconds/minutes/
    hours/days — calendar months don't form a fixed grid).

    Scale shape / why not a plain window expression: Spark evaluates
    a SLIDING frame by REBUILDING the aggregate buffer for every row
    (aggregates have no retraction), so the expression form is
    O(rows x frame-width) per key — the r10 burn-in's hot key
    (4M rows, ~720k-row frames) is ~3e12 row-adds and never
    finishes. This kernel is ONE hash(by) shuffle then one Arrow
    pass per co-located partition (the EMA discipline): per key, rows
    collapse to per-TIMESTAMP partials (peers aggregate once by
    construction), count rolls by exact integer cumulative-sum
    differencing, sum/min/max by pandas' time rolling
    (Kahan-compensated sum / monotonic-deque min-max) — O(n log n)
    per key, independent of frame width.

    NULL values never contribute; a frame whose values are all NULL
    yields NULL aggregates (count 0) — standard SQL frame semantics.
    A row with a NULL timestamp has no frame: all its rolling outputs
    are NULL and it never contributes to any other row's frame.

    UNGROUPED series (``by=[]``) distribute too: the time axis is
    bucketed at 4× the frame span with a trailing-span halo
    (``_halo_buckets``) — each bucket partition carries the preceding
    span's rows as discarded-output context, so no task ever holds
    more than one bucket of the corpus and parallelism scales with
    (time range)/(4·span). The degenerate case — a frame span on the
    order of the whole series' range — is inherently sequential (one
    bucket), exactly like the single-group grouped case.
    """
    n, unit = window.split()
    unit = unit.rstrip("s")
    if unit not in _UNIT_US:
        raise ValueError(f"rolling_agg window unit must be one of "
                         f"{sorted(_UNIT_US)} (fixed-length), got "
                         f"{unit!r}")
    span_us = int(n) * _UNIT_US[unit]
    makers = ("avg", "min", "max", "sum", "count")
    for f in funcs:
        if f not in makers:
            raise ValueError(f"unknown rolling func {f!r}")
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )
    schema = StructType(
        list(df.schema.fields)
        + [StructField(f"roll_{f}",
                       LongType() if f == "count" else DoubleType())
           for f in funcs])
    keys = list(by)
    if keys:
        shuffled = df.repartition(*[F.col(k) for k in keys])
    else:
        # UNGROUPED: coalesce(1) would serialize the corpus through
        # one task. Bucket by time with a trailing halo and group the
        # kernel on the bucket key — every core row's frame is
        # complete inside its partition; halo outputs are dropped.
        shuffled = (_halo_buckets(df, ts_col, span_us)
                    .repartition(F.col("__bkt__")))
        keys = ["__bkt__"]

    def roll(batches):
        import numpy as np
        import pandas as pd
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        n = len(pdf)
        tser = pd.to_datetime(pdf[ts_col])
        i8 = (tser.to_numpy().astype("datetime64[us]")
              .astype("int64"))
        vals = pdf[val_col].to_numpy(dtype="float64", na_value=np.nan)
        gid = pdf.groupby(keys, sort=False, dropna=False) \
                 .ngroup().to_numpy()
        out = {f: np.full(n, np.nan) for f in funcs}
        # rows with a NULL timestamp have no frame: NULL aggregates,
        # and they never contribute to any other row's frame
        valid = np.flatnonzero(tser.notna().to_numpy())
        if len(valid):
            order = valid[np.lexsort((i8[valid], gid[valid]))]
            t_s, g_s, v_s = i8[order], gid[order], vals[order]
            # unique (group, ts) axis — frame PEERS collapse to one
            # per-timestamp partial, so each frame endpoint is
            # evaluated once no matter how many tied rows share it
            new_u = np.empty(len(order), dtype=bool)
            new_u[0] = True
            new_u[1:] = ((g_s[1:] != g_s[:-1])
                         | (t_s[1:] != t_s[:-1]))
            uid_s = np.cumsum(new_u) - 1
            m_u = int(uid_s[-1]) + 1
            u_t, u_g = t_s[new_u], g_s[new_u]
            # ONE gap-separated time axis for ALL groups: rebase each
            # group to start span+1 past the previous group's end, so
            # a single rolling pass never crosses a group boundary —
            # no per-group pandas objects, no Python group loop
            gnew = np.empty(m_u, dtype=bool)
            gnew[0] = True
            gnew[1:] = u_g[1:] != u_g[:-1]
            gs = np.flatnonzero(gnew)
            ge = np.append(gs[1:], m_u) - 1
            glen = ge - gs + 1
            shift = np.zeros(len(gs), dtype="int64")
            if len(gs) > 1:
                shift[1:] = np.cumsum(
                    (u_t[ge] - u_t[gs])[:-1] + span_us + 1)
            adj_u = u_t - np.repeat(u_t[gs], glen) \
                + np.repeat(shift, glen)
            mval = ~np.isnan(v_s)
            cnts = np.bincount(uid_s[mval], minlength=m_u)
            ccnt = np.concatenate(([0], np.cumsum(cnts)))
            lo = np.searchsorted(adj_u, adj_u - span_us, side="left")
            pos = np.arange(m_u)
            rc = ccnt[pos + 1] - ccnt[lo]
            res = {}
            idx = pd.to_datetime(adj_u, unit="us")
            width = pd.Timedelta(microseconds=span_us)
            if {"sum", "avg"} & set(funcs):
                # NOT prefix-sum differencing (cs[pos+1]-cs[lo]):
                # cancellation error there grows with the running
                # prefix magnitude, so late frames over long or
                # mixed-sign series drift. pandas' time-rolling sum
                # is Kahan-compensated add/evict — per-frame error
                # stays O(frame), independent of series length.
                sums = np.bincount(uid_s[mval], weights=v_s[mval],
                                   minlength=m_u)
                r = (pd.Series(sums, index=idx)
                     .rolling(width, closed="both", min_periods=1)
                     .sum().to_numpy())
                rs = np.where(rc > 0, r, np.nan)
                res["sum"] = rs
                res["avg"] = np.where(rc > 0, rs / rc, np.nan)
            for f, seed, red in (("min", np.inf, np.minimum),
                                 ("max", -np.inf, np.maximum)):
                if f not in funcs:
                    continue
                per_ts = np.full(m_u, seed)
                red.at(per_ts, uid_s[mval], v_s[mval])
                r = (pd.Series(np.where(cnts > 0, per_ts, np.nan),
                               index=idx)
                     .rolling(width, closed="both", min_periods=1))
                res[f] = (r.min() if f == "min"
                          else r.max()).to_numpy()
            res["count"] = rc.astype("float64")
            for f in funcs:
                out[f][order] = res[f][uid_s]
        if "__core__" in pdf.columns:
            keep = pdf["__core__"].to_numpy()
            pdf = pdf.loc[keep].copy()
            out = {f: c[keep] for f, c in out.items()}
        for f in funcs:
            col = out[f]
            pdf[f"roll_{f}"] = (pd.array(col, dtype="Int64")
                                if f == "count" else col)
        yield pdf[[fld.name for fld in schema.fields]]

    return shuffled.mapInPandas(roll, schema)


def state_intervals(df: DataFrame, key_col: str, state_col: str,
                    ts_col: str, tiebreak: str | None = None) -> DataFrame:
    """Collapse an observation log into SCD2-style validity
    intervals: per key, consecutive observations with the SAME state
    merge into one row (key, state, valid_from, valid_to, n_obs),
    ``valid_to`` = the next interval's start (NULL while current) —
    the classic gaps-and-islands history builder for dimension
    snapshots / status streams.

    Scale shape: one hash(key) shuffle reused by every stage (two
    lag/lead windows and one combinable groupBy, all keyed on
    ``key_col``); only (key, state, ts) triples move. The island id
    is a running sum of change flags — revisiting a state after an
    interruption starts a NEW interval (unlike a groupBy(key, state)
    which would merge non-adjacent runs). Duplicate timestamps are
    ordered by ``tiebreak`` when given (pass one on real feeds —
    without it ties fall back to state order for determinism).
    """
    from pyspark.sql import Window
    order = [F.col(ts_col)]
    order.append(F.col(tiebreak) if tiebreak else F.col(state_col))
    wseq = Window.partitionBy(key_col).orderBy(*order)
    changed = F.when(
        F.lag(state_col).over(wseq).eqNullSafe(F.col(state_col)),
        0).otherwise(1)
    runs = (df.select(key_col, state_col, ts_col,
                      *( [tiebreak] if tiebreak else [] ))
            .withColumn("island_",
                        F.sum(changed).over(
                            wseq.rowsBetween(Window.unboundedPreceding,
                                             Window.currentRow))))
    iv = (runs.groupBy(key_col, "island_")
          .agg(F.first(state_col).alias("state"),
               F.min(ts_col).alias("valid_from"),
               F.count(F.lit(1)).alias("n_obs")))
    wkey = Window.partitionBy(key_col).orderBy("island_")
    return (iv.withColumn("valid_to",
                          F.lead("valid_from").over(wkey))
            .drop("island_")
            .select(key_col, "state", "valid_from", "valid_to",
                    "n_obs"))


def path_ngrams(events: DataFrame, key_col: str, state_col: str,
                ts_col: str, n: int = 3, k: int = 20,
                tiebreak: str | None = None) -> DataFrame:
    """Top-``k`` most frequent length-``n`` event paths (consecutive
    event-type sequences per key, ordered by time) — the classic
    user-journey / clickstream-mining query. Returns
    ``(path, n_occurrences, rank)`` with ``path`` the arrow-joined
    sequence; ties rank by path string for determinism.

    Scale shape: ONE hash(key) shuffle; the n-gram at each row is
    built ROW-LOCALLY from ``lead(state, 1..n-1)`` over the per-key
    window (never a per-key collect_list — a hot user's whole
    history would materialize as one array), then a combinable
    global count groupBy absorbs duplicate paths map-side and only
    (path, count) rows shuffle; the final top-k is one ordered
    limit over the tiny distinct-path frame. Duplicate timestamps
    order by ``tiebreak`` when given.
    """
    if n < 2:
        raise ValueError("path_ngrams needs n >= 2")
    from pyspark.sql import Window
    order = [F.col(ts_col)]
    order.append(F.col(tiebreak) if tiebreak else F.col(state_col))
    w = Window.partitionBy(key_col).orderBy(*order)
    steps = [F.col(state_col)] + [F.lead(state_col, i).over(w)
                                  for i in range(1, n)]
    path = F.concat_ws(" -> ", *steps)
    # a NULL state BREAKS the chain: every n-gram touching it is
    # dropped (filtering nulls up front would splice the neighbors
    # together and fabricate a transition that never happened)
    from functools import reduce
    complete = reduce(lambda a, b: a & b,
                      [s.isNotNull() for s in steps])
    return (events
            .select(F.when(complete, path).alias("path"))
            .filter(F.col("path").isNotNull())
            .groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.col("n_occurrences").desc(),
                     F.col("path").asc())
            .limit(k)
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.col("n_occurrences").desc(),
                               F.col("path").asc()))))


def markov_transitions(df: DataFrame, key_col: str, state_col: str,
                       ts_col: str,
                       tiebreak: str | None = None) -> DataFrame:
    """First-order Markov transition matrix of per-key state
    sequences: one row per observed (state, next_state) pair with
    the transition count ``n`` and the row-normalized probability
    ``p`` = n / Σ_next n — the user-journey / process-mining
    companion to :func:`path_ngrams` (which mines the sequences;
    this estimates the chain). Each key's observations order by
    ``ts_col`` (then ``tiebreak`` for determinism under equal
    timestamps); the last observation of a key emits nothing; a
    NULL state breaks the chain (no transition in or out, matching
    path_ngrams' NULL-breaks-chains rule).

    Scale shape: ONE hash(key) shuffle for the lead() window (rows
    order per key, never globally), then a combinable
    groupBy(state, next_state) that collapses the corpus to the
    |states|² transition frame; the normalizing row sums are window
    sums OVER THAT BOUNDED FRAME, never over data rows. Nothing
    changes between 60k rows and 100 TB except the one shuffle.
    """
    from pyspark.sql import Window
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    nxt = F.lead(state_col).over(w)
    pairs = (df.select(F.col(state_col).alias("state"),
                       nxt.alias("next_state"))
             .filter(F.col("state").isNotNull()
                     & F.col("next_state").isNotNull())
             .groupBy("state", "next_state")
             .agg(F.count(F.lit(1)).alias("n")))
    tot = F.sum("n").over(Window.partitionBy("state"))
    return pairs.select(
        "state", "next_state", "n",
        (F.col("n") / tot.cast("double")).alias("p"))


def cross_correlation(df: DataFrame, key_col: str, ts_col: str,
                      x_col: str, y_col: str, max_lag: int = 10,
                      tiebreak: str | None = None) -> DataFrame:
    """Cross-correlation function between two measures over per-key
    ordered sequences: for each lag l in 0..max_lag, the Pearson
    correlation of (x_t, y_{t-l}) pooled across keys — one row
    (lag, n, ccf). With ``x_col == y_col`` this is the
    autocorrelation function. Pairs where either side is NULL (or
    the lag runs off the key's sequence start) are excluded
    per-lag, matching the standard pairwise-deletion CCF.

    Scale shape: ONE hash(key) shuffle drives a single Window
    operator evaluating all max_lag+1 lag() columns in one pass
    (rows order per key, never globally; lag frames are
    O(1)-incremental, not sliding rebuilds), then ONE combinable
    aggregation computes every lag's guarded co-moments (the
    pairwise_corr ANSI discipline: NULL on zero variance, never a
    DIVIDE_BY_ZERO). The corpus is scanned once.
    """
    if max_lag < 0:
        raise ValueError("max_lag must be >= 0")
    from pyspark.sql import Window
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    lagged = df.select(
        x.alias("__x__"),
        *[F.lag(y, lag).over(w).alias(f"__y{lag}__")
          for lag in range(max_lag + 1)])
    aggs = []
    for lag in range(max_lag + 1):
        xl, yl = F.col("__x__"), F.col(f"__y{lag}__")
        both_x = F.when(yl.isNotNull(), xl)
        both_y = F.when(xl.isNotNull(), yl)
        cov = F.covar_samp(both_x, both_y)
        vx, vy = F.var_samp(both_x), F.var_samp(both_y)
        c = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
        aggs.append(c.alias(f"c__{lag}"))
        aggs.append(F.count(F.when(xl.isNotNull()
                                   & yl.isNotNull(), 1))
                    .alias(f"n__{lag}"))
    one = lagged.agg(*aggs)
    structs = [F.struct(F.lit(lag).alias("lag"),
                        F.col(f"n__{lag}").alias("n"),
                        F.col(f"c__{lag}").alias("ccf"))
               for lag in range(max_lag + 1)]
    return (one.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.lag", "p.n", "p.ccf"))


def attribute_conversions(df: DataFrame, key_col: str, ts_col: str,
                          type_col: str, value_col: str,
                          conversion: str, touches: list[str],
                          tiebreak: str | None = None) -> DataFrame:
    """Last-touch attribution: each ``conversion`` event's value is
    credited to the MOST RECENT preceding ``touches`` event of the
    same key (strictly earlier rows in (ts, tiebreak) order; a
    conversion with no preceding touch lands in the NULL channel).
    Returns one row per channel: (channel, n_conversions,
    attributed_value) — the marketing/channel-analytics staple.

    Scale shape: ONE hash(key) shuffle; the carried "last touch" is
    a running last(ignorenulls) window — an O(1)-incremental
    UNBOUNDED PRECEDING frame, never a sliding rebuild and never a
    per-key collect — followed by a combinable |channels|-bounded
    groupBy. A self-as-of-join formulation would pay a second
    corpus shuffle; this pays one.
    """
    from pyspark.sql import Window
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = (Window.partitionBy(key_col).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, -1))
    t = F.col(type_col)
    touch = F.when(t.isin(list(touches)), t)
    last_touch = F.last(touch, ignorenulls=True).over(w)
    conv = (df.select(t.alias("__t__"),
                      F.col(value_col).alias("__v__"),
                      last_touch.alias("channel"))
            .filter(F.col("__t__") == F.lit(conversion)))
    return (conv.groupBy("channel")
            .agg(F.count(F.lit(1)).alias("n_conversions"),
                 F.sum("__v__").alias("attributed_value")))


def cusum_changepoint(df: DataFrame, order_col: str,
                      val_col: str) -> DataFrame:
    """CUSUM changepoint detection: over the series ordered by
    ``order_col``, compute the centered cumulative sum
    S_i = Σ_{j<=i}(x_j - x̄) and return the single point where |S|
    peaks — the classic level-shift locator (the peak of the CUSUM
    walk is the maximum-likelihood split for a one-change mean
    model). One row: (n, mean, cp_index, cp_at, cusum, cusum_abs).
    Ref parity: tablite has no changepoint op — beyond-reference,
    motivated by drift detection over training-data ingest logs.

    Scale shape — the spearman/KM census discipline: the corpus
    collapses in ONE combinable groupBy(order) census; the prefix
    sums of (Σx, Σn) run DISTRIBUTED (``buckets.prefix_sums``, one
    offset collect serving both sums); the argmax is a single
    max(struct) aggregate with the global row index as an
    exact-integer tiebreak (smallest index wins a |S| tie) — never a
    global-order window, never a driver-side series. Duplicate order
    keys merge into one census point (their joint contribution lands
    at that position).
    """
    from tablite_spark.functions.buckets import (
        prefix_sums, with_range_bucket,
    )
    t, x = F.col(order_col), F.col(val_col)
    cens = (df.filter(t.isNotNull() & x.isNotNull())
            .groupBy(t.alias("__t__"))
            .agg(F.sum(x).alias("__x__"),
                 F.count(F.lit(1)).alias("__n__")))
    cens, totals = prefix_sums(
        with_range_bucket(pin(cens, eager=True), "__t__", "__b__"),
        "__b__", ["__t__"], {"__cx__": F.col("__x__"),
                             "__cn__": F.col("__n__")})
    n_total, x_total = totals["__cn__"], totals["__cx__"]
    if n_total == 0:
        return cens.sparkSession.createDataFrame(
            [], "n long, mean double, cp_index long, "
                "cp_at " + dict(df.dtypes)[order_col]
                + ", cusum double, cusum_abs double")
    mean = float(x_total) / float(n_total)
    i = F.col("__cn__")          # exact global index
    s = F.col("__cx__") - F.lit(mean) * i
    peak = cens.agg(F.max(F.struct(
        F.abs(s).alias("a"), (-i).alias("ni"), s.alias("s"),
        i.alias("i"), F.col("__t__").alias("t"))).alias("p"))
    return peak.select(
        F.lit(int(n_total)).alias("n"),
        F.lit(mean).alias("mean"),
        F.col("p.i").alias("cp_index"),
        F.col("p.t").alias("cp_at"),
        F.col("p.s").alias("cusum"),
        F.col("p.a").alias("cusum_abs"))


def group_cusum(df: DataFrame, keys: list[str], order_col: str,
                val_col: str) -> DataFrame:
    """Per-group CUSUM changepoints: :func:`cusum_changepoint` for
    every group at once — one row per group with its peak-|S| point
    (keys..., n, mean, cp_index, cp_at, cusum, cusum_abs).

    Scale shape: ONE combinable (keys, order) census groupBy, then
    per-key expanding windows over the census — each GROUP's census
    serializes through one task by contract (a group's distinct
    order keys are the bounded unit; the corpus stays parallel
    across groups — the ACF/path-ngrams hot-key contract), and the
    group mean rides the same window's final value via a group-total
    window, no second scan. The argmax is one combinable
    max(struct) per group."""
    from pyspark.sql import Window
    if not keys:
        raise ValueError("group_cusum requires at least one key; "
                         "use cusum_changepoint for the global form")
    t, x = F.col(order_col), F.col(val_col)
    kc = [F.col(k) for k in keys]
    base = df.filter(t.isNotNull() & x.isNotNull())
    for k in kc:                      # NULL group keys are excluded
        base = base.filter(k.isNotNull())
    cens = (base
            .groupBy(*kc, t.alias("__t__"))
            .agg(F.sum(x).alias("__x__"),
                 F.count(F.lit(1)).alias("__n__")))
    run = (Window.partitionBy(*keys).orderBy("__t__")
           .rowsBetween(Window.unboundedPreceding,
                        Window.currentRow))
    tot = (Window.partitionBy(*keys)
           .rowsBetween(Window.unboundedPreceding,
                        Window.unboundedFollowing))
    cens = (cens.withColumn("__cx__", F.sum("__x__").over(run))
            .withColumn("__cn__", F.sum("__n__").over(run))
            .withColumn("__tx__", F.sum("__x__").over(tot))
            .withColumn("__tn__", F.sum("__n__").over(tot)))
    mean = F.col("__tx__") / F.col("__tn__")
    s = F.col("__cx__") - mean * F.col("__cn__")
    peak = (cens.groupBy(*keys)
            .agg(F.max(F.col("__tn__")).alias("n"),
                 F.max(F.col("__tx__") / F.col("__tn__"))
                 .alias("mean"),
                 F.max(F.struct(
                     F.abs(s).alias("a"),
                     (-F.col("__cn__")).alias("ni"),
                     s.alias("s"),
                     F.col("__cn__").alias("i"),
                     F.col("__t__").alias("t"))).alias("p")))
    return peak.select(*keys, "n", "mean",
                       F.col("p.i").alias("cp_index"),
                       F.col("p.t").alias("cp_at"),
                       F.col("p.s").alias("cusum"),
                       F.col("p.a").alias("cusum_abs"))


def session_summary(df: DataFrame, key_col: str, ts_col: str,
                    type_col: str, gap_seconds: int = 1800,
                    tiebreak: str | None = None) -> DataFrame:
    """Session analytics: gap-sessionize per key (lag+cumsum), then
    report per ENTRY event type the session count, bounce rate
    (single-event sessions), mean events per session, and mean
    session duration — the landing-page / funnel-entry health table.
    One row per entry type: (entry_type, n_sessions, bounces,
    bounce_rate, avg_events, avg_duration_s). Rates are exact
    integer ratios; durations are exact integer seconds.

    Scale shape: per-key lag/cumsum windows (each KEY's events
    serialize by contract — the sessionize shape), then ONE
    combinable per-session groupBy carrying entry/exit via
    min_by/max_by on the (ts, tiebreak) order key, then a bounded
    per-entry-type fold. No corpus-order window, no join.
    """
    from pyspark.sql import Window
    k, t = F.col(key_col), F.col(ts_col)
    order = [t.asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    # INTEGER microseconds, not unix_timestamp: that truncates to
    # seconds and silently moves gap boundaries (and durations) off
    # the sub-second truth — caught by the strict oracle diff
    us = F.unix_micros(t.cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_sess = F.when(gap.isNull()
                      | (gap > gap_seconds * 1_000_000),
                      1).otherwise(0)
    # the module's engine-portable order key (DuckDB arg_min can't
    # order by struct — _order_key docstring)
    okey = _order_key(ts_col, tiebreak)
    sess = (df.filter(k.isNotNull() & t.isNotNull())
            .withColumn("__ns__", new_sess)
            .withColumn("__sid__", F.sum("__ns__").over(
                w.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow))))
    per = (sess.groupBy(k.alias("__k__"), F.col("__sid__"))
           .agg(F.count(F.lit(1)).alias("__n__"),
                F.min_by(F.col(type_col), okey).alias("__entry__"),
                (F.max(us) - F.min(us)).alias("__dur__")))
    return (per.groupBy(F.col("__entry__").alias("entry_type"))
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(F.when(F.col("__n__") == 1, 1).otherwise(0))
                 .alias("bounces"),
                 (F.sum(F.when(F.col("__n__") == 1, 1).otherwise(0))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("bounce_rate"),
                 (F.sum("__n__").cast("double")
                  / F.count(F.lit(1))).alias("avg_events"),
                 (F.sum("__dur__").cast("double") / 1e6
                  / F.count(F.lit(1))).alias("avg_duration_s")))


def additive_seasonal(df: DataFrame, ts_col: str, val_col: str,
                      k: float = 3.0) -> DataFrame:
    """Two-factor additive seasonal screen: model value as
    grand_mean + hour-of-day effect + day-of-week effect, pool the
    residual variance, and return rows where |residual| > k·σ with
    their z-scores — the richer cousin of the one-factor
    :func:`tablite_spark.operators.stats.seasonal_anomalies`.

    Scale shape: ALL THREE factor means (hour, dow, grand) come from
    ONE corpus scan via GROUPING SETS ((hour),(dow),()) — Catalyst's
    Expand feeds one combinable aggregate; the ≤32-row model
    broadcasts back twice (hour row, dow row) and the residual
    moments pool from a second scan's single aggregate. Two corpus
    scans total, no windows.
    """
    t, x = F.col(ts_col), F.col(val_col)
    base = df.filter(t.isNotNull() & x.isNotNull())
    hod, dow = F.hour(t), F.dayofweek(t)
    m = (base.select(hod.alias("__h__"), dow.alias("__d__"),
                     x.alias("__x__"))
         .groupingSets([["__h__"], ["__d__"], []],
                       "__h__", "__d__")
         .agg(F.avg("__x__").alias("__m__")))
    hm = (m.filter(F.col("__h__").isNotNull())
          .select(F.col("__h__").alias("__hk__"),
                  F.col("__m__").alias("__hmean__")))
    dm = (m.filter(F.col("__d__").isNotNull())
          .select(F.col("__d__").alias("__dk__"),
                  F.col("__m__").alias("__dmean__")))
    gm = (m.filter(F.col("__h__").isNull()
                   & F.col("__d__").isNull())
          .select(F.col("__m__").alias("__grand__")))
    fitted = (F.col("__hmean__") + F.col("__dmean__")
              - F.col("__grand__"))
    joined = (base.join(F.broadcast(hm), hod == F.col("__hk__"))
              .join(F.broadcast(dm), dow == F.col("__dk__"))
              .crossJoin(F.broadcast(gm)))
    resid = x - fitted
    stats = joined.agg(F.stddev_pop(resid).alias("__sd__"))
    out = (joined.crossJoin(F.broadcast(stats))
           .filter(F.abs(resid) > F.lit(k) * F.col("__sd__")))
    return out.select(*df.columns, fitted.alias("expected"),
                      (resid / F.col("__sd__")).alias("z"))


def interarrival_stats(df: DataFrame, key_col: str, ts_col: str,
                       tiebreak: str | None = None) -> DataFrame:
    """Per-key inter-arrival statistics: mean/stddev gap (seconds),
    coefficient of variation, and the Goh-Barabási burstiness
    B = (σ−μ)/(σ+μ) (−1 periodic, 0 Poisson, →1 bursty) — the event-
    stream rhythm screen (bot detection, sensor health). One row per
    key with ≥2 events: (key, n_gaps, mean_gap_s, sd_gap_s, cv,
    burstiness). Gaps are integer microseconds; derived stats carry
    the usual summation drift (round at an oracle boundary).

    Scale shape: one per-key lag window (a key's events serialize by
    contract — the sessionize shape) then ONE combinable per-key
    aggregate. No corpus-order window, no join.
    """
    from pyspark.sql import Window
    k, t = F.col(key_col), F.col(ts_col)
    order = [t.asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    us = F.unix_micros(t.cast("timestamp"))
    gap = (us - F.lag(us).over(w)).cast("double") / 1e6
    per = (df.filter(k.isNotNull() & t.isNotNull())
           .withColumn("__g__", gap)
           .filter(F.col("__g__").isNotNull())
           .groupBy(k.alias(key_col))
           .agg(F.count(F.lit(1)).alias("n_gaps"),
                F.avg("__g__").alias("mean_gap_s"),
                F.stddev_pop("__g__").alias("sd_gap_s")))
    cv = F.when(F.col("mean_gap_s") > 0,
                F.col("sd_gap_s") / F.col("mean_gap_s"))
    b = F.when(F.col("sd_gap_s") + F.col("mean_gap_s") > 0,
               (F.col("sd_gap_s") - F.col("mean_gap_s"))
               / (F.col("sd_gap_s") + F.col("mean_gap_s")))
    return per.select(key_col, "n_gaps", "mean_gap_s", "sd_gap_s",
                      cv.alias("cv"), b.alias("burstiness"))


# active_users switches from the explode plan to the interval plan
# above this max(windows)
_EXPLODE_MAX_WINDOW = 32


def active_users(df: DataFrame, ts_col: str, user_col: str,
                 windows: tuple = (1, 7, 28)) -> DataFrame:
    """Rolling distinct-active-user counts per day — DAU / WAU / MAU
    and the DAU/MAU stickiness ratio, the product-analytics staple.
    One row per calendar day with ≥1 event: (day, au_1, au_7,
    au_28, stickiness). A user active on day d counts toward every
    window ENDING on d..d+w−1 that has begun (days with no events
    emit no row).

    Scale shape for max(windows) <= 32, the explode plan:
    the corpus first collapses to DISTINCT (user, day) pairs (one
    combinable distinct; at most users×days rows regardless of event
    volume); each pair then explodes to the w days whose trailing
    window contains it (≤max(windows) row-local copies) and ONE
    count-distinct groupBy per day finishes the job. Never a
    distinct-over-sliding-window (unsupported/serializing), never a
    per-day self-join chain.

    For larger max(windows) (e.g. yearly actives), the interval plan:
    the ×wmax explode is replaced by interval arithmetic —
    per (user, window), consecutive active days at gaps ≤ w merge
    into islands (one hash(user) shuffle + a lag over per-user
    bounded frames: ≤ calendar days per user); each island
    [first, last+w−1] emits +1/−1 deltas at its two endpoint days,
    and a prefix sum over the DAY CENSUS (bounded by the calendar
    span + wmax, never by users or events) recovers the exact
    distinct count per day. Shuffle volume is O(pairs·|windows|)
    instead of O(pairs·wmax) — ~120× less for a 365-day window —
    at the cost of one extra user-keyed shuffle.
    """
    if not windows or any(w < 1 for w in windows):
        raise ValueError("windows must be positive ints")
    wmax = max(windows)
    t, u = F.col(ts_col), F.col(user_col)
    pairs = (df.filter(t.isNotNull() & u.isNotNull())
             .select(u.alias("__u__"),
                     F.date_trunc("day", t).alias("__d__"))
             .distinct())
    days = pairs.select(F.col("__d__").alias("day")).distinct()
    if wmax <= _EXPLODE_MAX_WINDOW:
        exploded = pairs.select(
            "__u__", "__d__",
            F.explode(F.sequence(F.lit(0), F.lit(wmax - 1)))
            .alias("__off__")).select(
            "__u__", "__off__",
            (F.col("__d__") + F.make_interval(days=F.col("__off__")))
            .alias("day"))
        aggs = [F.countDistinct(
            F.when(F.col("__off__") < w, F.col("__u__")))
            .alias(f"au_{w}") for w in sorted(windows)]
        per_day = exploded.groupBy("day").agg(*aggs)
        out = days.join(per_day, "day")  # drop phantom future days
    else:
        from pyspark.sql import Window
        uw = Window.partitionBy("__u__").orderBy("__d__")
        gap = F.datediff(F.col("__d__"),
                         F.lag("__d__").over(uw))
        # islands per (user, window): a gap of more than w days
        # means the previous island's coverage [last, last+w-1]
        # ends strictly before this day — split; gap == w is
        # adjacent coverage and merges (same day-set, fewer deltas)
        marked = pairs.select(
            "__u__", "__d__",
            *[F.when(gap.isNull() | (gap > w), 1).otherwise(0)
              .alias(f"__new_{w}__") for w in sorted(windows)])
        marked = marked.select(
            "__u__", "__d__",
            *[F.sum(f"__new_{w}__").over(uw).alias(f"__isl_{w}__")
              for w in sorted(windows)])
        deltas = None
        for w in sorted(windows):
            isl = (marked.groupBy("__u__", f"__isl_{w}__")
                   .agg(F.min("__d__").alias("__a__"),
                        F.max("__d__").alias("__z__")))
            d_w = (isl.select(
                F.explode(F.array(
                    F.struct(F.col("__a__").alias("day"),
                             F.lit(1).alias("delta")),
                    F.struct((F.col("__z__") + F.make_interval(
                        days=F.lit(w))).alias("day"),
                        F.lit(-1).alias("delta")))).alias("e"))
                .select("e.day", "e.delta")
                .groupBy("day")
                .agg(F.sum("delta").alias(f"__dlt_{w}__")))
            deltas = d_w if deltas is None else \
                deltas.join(d_w, "day", "full")
        # bounded census: delta days ⊆ [min_day, max_day + wmax] —
        # calendar-bounded, so the unpartitioned running sum is over
        # a frame the size of the day axis, never of the corpus
        axis = (days.withColumn("__ev__", F.lit(True))
                .join(deltas, "day", "full"))
        dw_ord = Window.orderBy("day") \
            .rowsBetween(Window.unboundedPreceding, 0)
        out = (axis.select(
            "day", "__ev__",
            *[F.sum(F.coalesce(F.col(f"__dlt_{w}__"), F.lit(0)))
              .over(dw_ord).alias(f"au_{w}")
              for w in sorted(windows)])
            .filter(F.col("__ev__"))   # drop no-event + phantom days
            .drop("__ev__"))
    if 1 in windows and wmax in windows and wmax > 1:
        out = out.withColumn(
            "stickiness",
            F.col("au_1").cast("double") / F.col(f"au_{wmax}"))
    return out


def multi_touch_attribution(df: DataFrame, key_col: str, ts_col: str,
                            type_col: str, value_col: str,
                            conversion: str, touches: list[str],
                            tiebreak: str | None = None) -> DataFrame:
    """Multi-touch attribution — the fractional-credit twin of
    :func:`attribute_conversions` (last-touch). Each ``conversion``
    event's value is split across the ``touches`` events of the same
    key that precede it STRICTLY (in (ts, tiebreak) order) and follow
    the previous conversion (paths reset at each conversion):

    - ``linear_value``: value/k to each of the k touches in the path;
    - ``ushape_value``: the position-based U: 40% first touch, 40%
      last touch, 20% split over the middles (k=1 -> 100%, k=2 ->
      50/50) — the standard position-based model.

    Conversions with NO preceding touch land in the NULL channel at
    full value under both models, mirroring last-touch. One row per
    channel: (channel, n_touches, linear_value, ushape_value).

    Scale shape: ONE hash(key) shuffle drives both window passes
    (path id = running count of PRIOR conversions — an
    O(1)-incremental unbounded-preceding frame, and a rank pair for
    first/last position — over per-path bounded frames); the
    conversion values join back on the (key, path) pair (keyed
    shuffle of the conversions sliver only) and a |channels|-bounded
    combinable groupBy finishes. Never a per-conversion explode of
    its path, never a self-as-of-join over the corpus.
    """
    from pyspark.sql import Window
    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    t = F.col(type_col)
    wrun = (Window.partitionBy(key_col).orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, -1))
    # path id: number of conversions strictly before this row — the
    # touches between conversion i and i+1 share path i with the
    # (i+1)-th conversion row itself
    path = F.coalesce(
        F.sum(F.when(t == conversion, 1).otherwise(0)).over(wrun),
        F.lit(0))
    base = df.withColumn("__p__", path).select(
        F.col(key_col).alias("__k__"), t.alias("__t__"),
        F.col(value_col).alias("__v__"), F.col("__p__"), *order)
    conv = (base.filter(F.col("__t__") == conversion)
            .select("__k__", "__p__", "__v__"))
    tch = base.filter(F.col("__t__").isin(list(touches)))
    wpath = Window.partitionBy("__k__", "__p__").orderBy(*order)
    tch = tch.select(
        "__k__", "__p__", F.col("__t__").alias("channel"),
        F.row_number().over(wpath).alias("__pos__"),
        F.count(F.lit(1)).over(
            Window.partitionBy("__k__", "__p__")).alias("__kk__"))
    credited = tch.join(conv, ["__k__", "__p__"])  # drops trailing
    k = F.col("__kk__").cast("double")
    u = (F.when(F.col("__kk__") == 1, 1.0)
         .when(F.col("__kk__") == 2, 0.5)
         .when(F.col("__pos__") == 1, 0.4)
         .when(F.col("__pos__") == F.col("__kk__"), 0.4)
         .otherwise(0.2 / (k - 2)))
    per = (credited.groupBy("channel")
           .agg(F.count(F.lit(1)).alias("n_touches"),
                F.sum(F.col("__v__") / k).alias("linear_value"),
                F.sum(F.col("__v__") * u).alias("ushape_value")))
    # conversions whose path has no touch: NULL channel, full value
    paths = tch.select("__k__", "__p__").distinct()
    orphan = (conv.join(paths, ["__k__", "__p__"], "left_anti")
              .agg(F.count(F.lit(1)).alias("n_touches"),
                   F.sum("__v__").alias("linear_value"),
                   F.sum("__v__").alias("ushape_value"))
              .filter(F.col("n_touches") > 0)
              .select(F.lit(None).cast("string").alias("channel"),
                      "n_touches", "linear_value", "ushape_value"))
    return per.unionByName(orphan)


def time_weighted_avg(df: DataFrame, keys: list[str], ts_col: str,
                      val_col: str,
                      tiebreak: str | None = None) -> DataFrame:
    """Time-weighted average (TWAP): per key, each observation holds
    from its timestamp until the key's NEXT observation, and the
    average weights every value by its holding time —
    ``Σ v·Δt / Σ Δt``. The final observation has no successor and
    contributes no weight (standard TWAP over the observed span).
    Rows with NULL timestamp or value are excluded; keys with fewer
    than two surviving observations have an empty span and are
    omitted. ``tiebreak`` (a unique id column) makes Δt
    deterministic under duplicate timestamps.

    Exactness discipline: values quantize to integer cents and Δt
    to integer microseconds; their products accumulate in
    ``decimal(38,0)`` (exact, order-independent — Spark's decimal
    sum and DuckDB's HUGEINT sum agree bit-for-bit), so the single
    final division is the ONLY float operation and the result is
    identical on any partitioning. No rounding needed at the oracle
    boundary.

    Scale shape: one window (lead) partitioned by the keys — the
    same per-entity partition every sessionization uses — then one
    combinable groupBy. Hot keys absorb map-side in the partial
    aggregation; only (key, 3 sums) shuffle.
    """
    from pyspark.sql import Window
    if not keys:
        raise ValueError("time_weighted_avg needs grouping keys")
    ts, v = F.col(ts_col), F.col(val_col)
    base = df.filter(ts.isNotNull() & v.isNotNull())
    order = [ts.asc()] + ([F.col(tiebreak).asc()]
                          if tiebreak is not None else [])
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    us = F.unix_micros(ts.cast("timestamp"))
    dt = F.lead(us).over(w) - us
    vc = F.round(v * 100, 0).cast("decimal(18,0)")
    seg = (base.withColumn("__dt__", dt)
           .filter(F.col("__dt__").isNotNull())
           .withColumn("__vd__", vc * F.col("__dt__")))
    agg = (seg.groupBy(*keys)
           .agg(F.sum("__vd__").alias("__svd__"),
                F.sum("__dt__").alias("__sdt__"),
                F.count(F.lit(1)).alias("__n__"))
           # all observations at one instant: zero span, no average
           .filter(F.col("__sdt__") > 0))
    return agg.select(
        *keys,
        (F.col("__n__") + 1).alias("n_obs"),
        (F.col("__sdt__") / F.lit(1_000_000.0)).alias("span_s"),
        (F.col("__svd__").cast("double")
         / F.col("__sdt__").cast("double") / 100.0).alias("twa"))
