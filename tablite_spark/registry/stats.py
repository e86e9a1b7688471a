"""Statistics and time-series queries: survival and rank tests,
robust regression, rolling and time-weighted aggregates, RFM and
concentration tables on the distributed-rank engine, attribution,
growth and histogram censuses. Money and moments ride exact integer
cents so each DuckDB oracle matches bit for bit or at one rounding
boundary.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import pin, release
from tablite_spark.registry._base import _t

ORACLES: dict[str, str] = {}


def rolling_global_events(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 30-minute rolling avg/count/sum over the WHOLE click
    stream (no grouping key): the kernel buckets the time axis at 4x
    the frame span with a trailing-span halo, so no task ever holds
    more than one bucket — never coalesce(1), never a global window.
    Oracle: DuckDB's unpartitioned RANGE frame."""
    from tablite_spark.operators.timeseries import rolling_agg
    ev = (_t(spark, sf, "events")
          .filter(F.col("event_type") == "click")
          # exact-cents discipline: integer-valued doubles sum
          # EXACTLY on both engines (Kahan add/evict of integers is
          # error-free below 2^53), so sum and avg are the same
          # integer arithmetic cross-engine and need NO rounding —
          # the sf0.1 strict sweep caught both the raw-double form
          # (summation-order drift) and a round(…,4) form (exact
          # half-decimals hit Spark-vs-DuckDB ROUND divergence)
          .withColumn("vc", F.round(F.col("value") * 100, 0)))
    out = rolling_agg(ev, "ts", "vc", [], "30 minutes",
                      funcs=("count", "sum"))
    return out.select(
        "event_id",
        (F.col("roll_sum") / F.col("roll_count") / 100)
        .alias("roll_avg"),
        F.col("roll_count"),
        (F.col("roll_sum") / 100).alias("roll_sum"))


ORACLES["rolling_global_events"] = """
    WITH c AS (
        SELECT event_id, ts, ROUND(value * 100, 0) AS vc
        FROM events WHERE event_type = 'click'
    )
    SELECT event_id,
           sum(vc) OVER w / count(vc) OVER w / 100 AS roll_avg,
           count(vc) OVER w AS roll_count,
           sum(vc) OVER w / 100 AS roll_sum
    FROM c
    WINDOW w AS (ORDER BY ts
                 RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING
                 AND CURRENT ROW)
"""


def active_users_interval_events(spark: SparkSession,
                                 sf: str) -> DataFrame:
    """Daily actives + trailing-45-day actives + stickiness via the
    INTERVAL engine (auto-selected for windows > 32 days): per-user
    active-day islands emit +-1 deltas, a calendar-bounded day-census
    prefix sum recovers exact distinct counts — O(pairs·|windows|)
    shuffle where the explode form is O(pairs·45). The DuckDB oracle
    uses the EXPLODE formulation, so the two algorithms must agree
    value-exactly."""
    from tablite_spark.operators.timeseries import active_users
    ev = _t(spark, sf, "events")
    return active_users(ev, "ts", "user_id", windows=(1, 45))


ORACLES["active_users_interval_events"] = """
    WITH pairs AS (
        SELECT DISTINCT user_id AS u,
               date_trunc('day', ts) AS d
        FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), days AS (SELECT DISTINCT d AS day FROM pairs),
    expl AS (
        SELECT u, o.off,
               d + to_days(CAST(o.off AS INT)) AS day
        FROM pairs, (SELECT unnest(range(0, 45)) AS off) o
    ), per AS (
        SELECT day,
               count(DISTINCT CASE WHEN off < 1 THEN u END)
                   AS au_1,
               count(DISTINCT CASE WHEN off < 45 THEN u END)
                   AS au_45
        FROM expl GROUP BY 1
    )
    SELECT days.day, au_1, au_45,
           CAST(au_1 AS DOUBLE) / au_45 AS stickiness
    FROM days JOIN per ON days.day = per.day
"""


def multi_touch_events(spark: SparkSession, sf: str) -> DataFrame:
    """Linear + U-shaped multi-touch attribution of purchase values
    to view/click touches, paths resetting at each purchase;
    event_id breaks timestamp ties so positions are deterministic.
    Values ride exact integer cents; the per-channel credit sums are
    rounded to 4 on both engines. Oracle: the same path/position
    windows in DuckDB."""
    from tablite_spark.operators.timeseries import (
        multi_touch_attribution,
    )
    ev = (_t(spark, sf, "events")
          .withColumn("vc", F.round(F.col("value") * 100, 0) / 100))
    out = multi_touch_attribution(ev, "user_id", "ts", "event_type",
                                  "vc", "purchase", ["view", "click"],
                                  tiebreak="event_id")
    return out.select("channel", "n_touches",
                      F.round(F.col("linear_value"), 4)
                      .alias("linear_value"),
                      F.round(F.col("ushape_value"), 4)
                      .alias("ushape_value"))


ORACLES["multi_touch_events"] = """
    WITH e AS (
        SELECT user_id, ts, event_id, event_type,
               ROUND(value * 100, 0) / 100 AS vc,
               COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS p
        FROM events
    ), conv AS (
        SELECT user_id, p, vc AS v FROM e
        WHERE event_type = 'purchase'
    ), tch AS (
        SELECT user_id, p, event_type AS channel,
               row_number() OVER w AS pos,
               count(*) OVER (PARTITION BY user_id, p) AS kk
        FROM e WHERE event_type IN ('view', 'click')
        WINDOW w AS (PARTITION BY user_id, p
                     ORDER BY ts, event_id)
    ), credited AS (
        SELECT t.channel, c.v, t.kk, t.pos,
               CASE WHEN t.kk = 1 THEN 1.0
                    WHEN t.kk = 2 THEN 0.5
                    WHEN t.pos = 1 THEN 0.4
                    WHEN t.pos = t.kk THEN 0.4
                    ELSE 0.2 / (t.kk - 2) END AS u
        FROM tch t JOIN conv c
          ON t.user_id = c.user_id AND t.p = c.p
    ), per AS (
        SELECT channel, count(*) AS n_touches,
               ROUND(SUM(v / kk), 4) + 0 AS linear_value,
               ROUND(SUM(v * u), 4) + 0 AS ushape_value
        FROM credited GROUP BY 1
    ), orphan AS (
        SELECT CAST(NULL AS VARCHAR) AS channel,
               count(*) AS n_touches,
               ROUND(SUM(v), 4) + 0 AS linear_value,
               ROUND(SUM(v), 4) + 0 AS ushape_value
        FROM conv c
        WHERE NOT EXISTS (SELECT 1 FROM tch t
                          WHERE t.user_id = c.user_id
                            AND t.p = c.p)
        HAVING count(*) > 0
    )
    SELECT * FROM per UNION ALL SELECT * FROM orphan
"""


def time_weighted_avg_events(spark: SparkSession,
                             sf: str) -> DataFrame:
    """Per-user time-weighted average order value over the user's
    event history (each value holds until the user's next event;
    ties broken by event_id). Exact: cents × microseconds accumulate
    in decimal(38,0) (Spark) / HUGEINT (DuckDB), both exact, so the
    final double division is bit-identical on any partitioning —
    twa and span_s ship UNROUNDED."""
    from tablite_spark.operators.timeseries import time_weighted_avg
    ev = _t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    out = time_weighted_avg(ev, ["user_id"], "ts", "value",
                            tiebreak="event_id")
    return out.orderBy("user_id")


ORACLES["time_weighted_avg_events"] = """
    WITH base AS (
        SELECT user_id, epoch_us(ts) AS us,
               CAST(round(value * 100, 0) AS BIGINT) AS vc,
               lead(epoch_us(ts)) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS nxt
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND value IS NOT NULL
    ), seg AS (
        SELECT user_id, vc, nxt - us AS dt
        FROM base WHERE nxt IS NOT NULL
    )
    SELECT user_id,
           count(*) + 1 AS n_obs,
           CAST(sum(dt) AS DOUBLE) / 1000000.0 AS span_s,
           CAST(sum(CAST(vc AS HUGEINT) * dt) AS DOUBLE)
               / CAST(sum(dt) AS DOUBLE) / 100.0 AS twa
    FROM seg GROUP BY 1 HAVING sum(dt) > 0
"""


def nelson_aalen_events(spark: SparkSession, sf: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over event values as durations
    (non-'error' = observed, 'error' = censored) — the additive twin
    of ``km_survival_events``, same census, H(t) = Σ d/n instead of
    Π(1 − d/n). Hazard rounds at the oracle boundary (float addition
    groups differ across engines by construction)."""
    from tablite_spark.operators.stats import nelson_aalen
    ev = _t(spark, sf, "events")
    out = nelson_aalen(ev, "value",
                       F.col("event_type") != F.lit("error"))
    return out.select("duration", "n_at_risk", "n_events",
                      (F.round(F.col("cumhaz"), 6) + 0)
                      .alias("cumhaz"))


ORACLES["nelson_aalen_events"] = """
    WITH c AS (
        SELECT value AS t,
               count(*) FILTER (event_type <> 'error') AS d,
               count(*) FILTER (event_type = 'error') AS cns
        FROM events WHERE value IS NOT NULL GROUP BY 1
    ), w AS (
        SELECT t, d, cns,
               sum(d + cns) OVER (ORDER BY t) AS cum,
               (SELECT sum(d + cns) FROM c) AS N
        FROM c
    ), r AS (
        SELECT t, d, N - cum + d + cns AS n_risk FROM w
    ), s AS (
        SELECT t, d, n_risk,
               sum(CAST(d AS DOUBLE) / n_risk)
                   OVER (ORDER BY t) AS cumhaz
        FROM r
    )
    SELECT t AS duration, CAST(n_risk AS BIGINT) AS n_at_risk,
           d AS n_events, ROUND(cumhaz, 6) + 0 AS cumhaz
    FROM s WHERE d > 0
"""


def conversion_lag_events(spark: SparkSession, sf: str) -> DataFrame:
    """First 'view' → first subsequent 'purchase' latency per user:
    the conversion-lag census behind funnel SLAs. Two combinable
    min-aggregates and ONE keyed join — no window over the event
    stream, so a power-user key costs a map-side partial, not a
    single-task sort. Lag is exact integer microseconds."""
    ev = (_t(spark, sf, "events")
          .filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull()))
    fv = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id")
          .agg(F.min("ts").alias("first_view")))
    pu = (ev.filter(F.col("event_type") == "purchase")
          .join(fv, "user_id")
          .filter(F.col("ts") >= F.col("first_view"))
          .groupBy("user_id", "first_view")
          .agg(F.min("ts").alias("first_purchase")))
    lag_us = (F.unix_micros(F.col("first_purchase").cast("timestamp"))
              - F.unix_micros(F.col("first_view").cast("timestamp")))
    return pu.select("user_id",
                     F.col("first_view").cast("timestamp")
                     .alias("first_view"),
                     F.col("first_purchase").cast("timestamp")
                     .alias("first_purchase"),
                     lag_us.alias("lag_us"))


ORACLES["conversion_lag_events"] = """
    WITH fv AS (
        SELECT user_id, min(ts) AS first_view
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type = 'view'
        GROUP BY 1
    )
    SELECT e.user_id, fv.first_view,
           min(e.ts) AS first_purchase,
           epoch_us(min(e.ts)) - epoch_us(fv.first_view) AS lag_us
    FROM events e JOIN fv ON e.user_id = fv.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
      AND e.ts IS NOT NULL
    GROUP BY 1, 2
"""


def mom_growth_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Month-over-month revenue growth per customer nation — the
    period-over-period KPI behind every revenue dashboard. The corpus
    collapses in ONE combinable (nation, month) cents census; the
    lag() window then runs over the CENSUS (|nations| x |months|
    rows), never over row-level data. Revenue is exact cents; growth
    is one division of exact operands, rounded at the oracle
    boundary only because (a-b)/b is a float."""
    from pyspark.sql import Window
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    # customer is a BIG dim at corpus scale — no broadcast hint;
    # AQE picks broadcast at small SF and shuffle-hash at 100 TB.
    # nation (25 rows) is always broadcast.
    cen = (o.join(c, o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
           .groupBy(F.col("n_name").alias("nation"),
                    F.date_trunc("month", F.col("o_orderdate")
                                 .cast("timestamp")).alias("month"))
           .agg((F.sum(F.round(F.col("o_totalprice") * 100, 0))
                 / 100).alias("revenue")))
    w = Window.partitionBy("nation").orderBy("month")
    prev = F.lag("revenue").over(w)
    return cen.select(
        "nation", "month", "revenue",
        (F.round((F.col("revenue") - prev) / prev, 6) + 0)
        .alias("growth"))


ORACLES["mom_growth_orders"] = """
    WITH cen AS (
        SELECT n_name AS nation,
               date_trunc('month', CAST(o_orderdate AS TIMESTAMP))
                   AS month,
               CAST(sum(round(o_totalprice * 100, 0)) AS DOUBLE)
                   / 100 AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    )
    SELECT nation, month, revenue,
           ROUND((revenue - lag(revenue) OVER w)
                 / lag(revenue) OVER w, 6) + 0 AS growth
    FROM cen WINDOW w AS (PARTITION BY nation ORDER BY month)
"""


def hist2d_events(spark: SparkSession, sf: str) -> DataFrame:
    """Bivariate census: event value (25-wide bins, clamped to
    [0, 500)) x hour of day — the 2-D histogram behind density
    heatmaps. Pure integer arithmetic end to end (counts and exact
    integer-ratio shares over a <=480-cell frame), ONE combinable
    groupBy."""
    ev = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull())
    vbin = F.least(F.floor(F.col("value") / 25).cast("int"),
                   F.lit(19))
    cen = (ev.groupBy(vbin.alias("value_bin"),
                      F.hour(F.col("ts").cast("timestamp"))
                      .alias("hour"))
           .agg(F.count(F.lit(1)).alias("n")))
    total = cen.agg(F.sum("n").alias("__t__"))
    return (cen.crossJoin(F.broadcast(total))
            .select("value_bin", "hour", "n",
                    (F.col("n").cast("double") / F.col("__t__"))
                    .alias("share")))


ORACLES["hist2d_events"] = """
    WITH cen AS (
        SELECT least(CAST(floor(value / 25) AS INT), 19)
                   AS value_bin,
               CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hour,
               count(*) AS n
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT value_bin, hour, n,
           CAST(n AS DOUBLE) / (SELECT sum(n) FROM cen) AS share
    FROM cen
"""


def fit_apply_scale_events(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe fit/apply standardization: z-score parameters
    (mean, std) FIT on the training period only (events before
    2024-01-15, the midpoint of the generator's 2024-01 event month —
    the r13 cutoff of 1998-06-01 predated the data entirely, making
    the query a vacuous NULL-matches-NULL pass; caught and re-dated
    in r14), APPLIED to the full stream, summarized per event
    type. The fit and every group mean derive from exact integer
    cents sums (Σvc, Σvc², n), so mean/std/avg_z are identical on
    any partitioning and engine — avg_z ships UNROUNDED, computed as
    (Σvc/100 − n·m)/s/n from the exact components rather than a
    float sum of per-row z's. min_z/max_z are order-independent.
    ONE scan per side + a 1-row broadcast: no window, no Python."""
    ev = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    vc = F.round(F.col("value") * 100, 0).cast("long")
    base = ev.select(F.col("event_type"),
                     F.col("ts").cast("timestamp").alias("ts"),
                     vc.alias("vc"))
    fit = (base.filter(F.col("ts") < F.lit("2024-01-15"))
           .agg(F.sum("vc").alias("s1"),
                F.sum(F.col("vc") * F.col("vc")).alias("s2"),
                F.count(F.lit(1)).alias("n")))
    m = F.col("s1").cast("double") / F.col("n") / 100.0
    var = ((F.col("s2").cast("double") / 10000.0
            - F.col("n") * m * m) / (F.col("n") - 1))
    # symmetric empty-train guard (r13 ADVICE): an empty training
    # window leaves Spark's agg with ONE all-NULL row while the
    # oracle's `FROM base, fit` cross join of an empty fit CTE has
    # ZERO rows — dropping the NULL-parameter fit row makes both
    # engines return empty instead of Spark emitting NULL z-scores
    fit = (fit.select(m.alias("__m__"), F.sqrt(var).alias("__s__"))
           .filter(F.col("__m__").isNotNull()))
    g = (base.crossJoin(F.broadcast(fit))
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("vc").alias("gs"),
              F.min("vc").alias("lo"), F.max("vc").alias("hi"),
              F.first("__m__").alias("__m__"),
              F.first("__s__").alias("__s__")))
    z = lambda c: (c / 100.0 - F.col("__m__")) / F.col("__s__")
    return g.select(
        "event_type", "n",
        ((F.col("gs").cast("double") / 100.0
          - F.col("n") * F.col("__m__"))
         / F.col("__s__") / F.col("n")).alias("avg_z"),
        z(F.col("lo").cast("double")).alias("min_z"),
        z(F.col("hi").cast("double")).alias("max_z"))


ORACLES["fit_apply_scale_events"] = """
    WITH base AS (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
               CAST(round(value * 100, 0) AS BIGINT) AS vc
        FROM events WHERE value IS NOT NULL
    ), fit AS (
        SELECT CAST(sum(vc) AS DOUBLE) / count(*) / 100.0 AS m,
               sqrt((CAST(sum(vc * vc) AS DOUBLE) / 10000.0
                     - count(*) * (CAST(sum(vc) AS DOUBLE)
                                   / count(*) / 100.0)
                       * (CAST(sum(vc) AS DOUBLE)
                          / count(*) / 100.0))
                    / (count(*) - 1)) AS s
        FROM base WHERE ts < TIMESTAMP '2024-01-15'
    )
    SELECT event_type, count(*) AS n,
           (CAST(sum(vc) AS DOUBLE) / 100.0 - count(*) * m)
               / s / count(*) AS avg_z,
           (CAST(min(vc) AS DOUBLE) / 100.0 - m) / s AS min_z,
           (CAST(max(vc) AS DOUBLE) / 100.0 - m) / s AS max_z
    FROM base, fit GROUP BY event_type, m, s
"""


def rfm_segments_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Per-customer RFM (recency / frequency / monetary) quintile
    scores — the classic CRM segmentation. One call of the
    distributed row-number engine
    (``functions/buckets.py:distributed_row_number``) ranks ALL
    customers on each metric: one bounds pass and one offsets
    collect serve the three orderings, each then ranked by
    per-bucket windows — never a single-task global sort. Quintile
    q = 1 + ((rank-1)*5) DIV N in exact integer arithmetic (no ntile
    remainder-rule dependence). Monetary accumulates exact cents;
    recency counts days from the corpus max order date. Higher
    score = better customer on every axis (recent / frequent /
    high-spend); ties rank by custkey so the oracle's row_number is
    bit-identical."""
    from tablite_spark.functions.buckets import distributed_row_number
    o = _t(spark, sf, "orders")
    maxd = o.agg(F.max(F.col("o_orderdate").cast("date"))
                 .alias("__maxd__"))
    cen = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.max(F.col("o_orderdate").cast("date"))
                .alias("__last__"),
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100, 0))
                .cast("long").alias("__mc__"))
           .crossJoin(F.broadcast(maxd))
           .withColumn("recency_days",
                       F.datediff(F.col("__maxd__"), F.col("__last__"))
                       .cast("long"))
           .drop("__maxd__", "__last__"))
    # the three rankings share one bounds pass and one offsets
    # collect (distributed_row_number); the pin makes those two
    # passes and the output plan read the census, not the orders scan
    ranked, n = distributed_row_number(pin(cen, eager=True), {
        "__rr__": ["recency_days", "custkey"],
        "__rf__": ["n_orders", "custkey"],
        "__rm__": ["__mc__", "custkey"]})
    # integer DIV via expr keeps the arithmetic exact end to end
    return ranked.select(
        "custkey", "recency_days",
        F.col("n_orders").cast("long").alias("n_orders"),
        (F.col("__mc__").cast("double") / 100).alias("monetary"),
        (F.lit(5) - F.expr(f"((__rr__ - 1) * 5) DIV {n}"))
        .cast("int").alias("r_score"),
        (F.lit(1) + F.expr(f"((__rf__ - 1) * 5) DIV {n}"))
        .cast("int").alias("f_score"),
        (F.lit(1) + F.expr(f"((__rm__ - 1) * 5) DIV {n}"))
        .cast("int").alias("m_score"))


ORACLES["rfm_segments_orders"] = """
    WITH cen AS (
        SELECT o_custkey AS custkey,
               max(CAST(o_orderdate AS DATE)) AS last_order,
               count(*) AS n_orders,
               CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT)
                   AS mc
        FROM orders GROUP BY 1
    ), r AS (
        SELECT *,
               date_diff('day', last_order,
                         (SELECT max(CAST(o_orderdate AS DATE))
                          FROM orders)) AS recency_days,
               (SELECT count(*) FROM cen) AS n
        FROM cen
    ), rk AS (
        SELECT *,
               row_number() OVER (ORDER BY recency_days, custkey)
                   AS rr,
               row_number() OVER (ORDER BY n_orders, custkey) AS rf,
               row_number() OVER (ORDER BY mc, custkey) AS rm
        FROM r
    )
    SELECT custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(mc AS DOUBLE) / 100 AS monetary,
           CAST(5 - ((rr - 1) * 5) // n AS INT) AS r_score,
           CAST(1 + ((rf - 1) * 5) // n AS INT) AS f_score,
           CAST(1 + ((rm - 1) * 5) // n AS INT) AS m_score
    FROM rk
"""


def mann_whitney_events(spark: SparkSession, sf: str) -> DataFrame:
    """Tie-corrected Mann-Whitney U comparing purchase vs view event
    values (``operators/stats.py:mann_whitney_u``): 2·U ships as an
    exact BIGINT (half-integer average ranks doubled away); z rounds
    at the oracle boundary. The census-prefix engine keeps the rank
    sum distributed — the same shape the KS test runs."""
    from tablite_spark.operators.stats import mann_whitney_u
    ev = _t(spark, sf, "events")
    out = mann_whitney_u(ev, "event_type", "value",
                         "purchase", "view")
    return out.select("n_a", "n_b", "u_a_x2",
                      (F.round(F.col("z"), 6) + 0).alias("z"))


ORACLES["mann_whitney_events"] = """
    WITH cens AS (
        SELECT value AS v,
               count(*) FILTER (event_type = 'purchase') AS ca,
               count(*) FILTER (event_type = 'view') AS cb,
               count(*) AS ct
        FROM events
        WHERE value IS NOT NULL
          AND event_type IN ('purchase', 'view')
        GROUP BY 1
    ), pre AS (
        SELECT *, sum(ct) OVER (ORDER BY v) - ct AS less FROM cens
    ), agg AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb,
               CAST(sum(ca * (2 * less + ct + 1)) AS BIGINT) AS r2,
               sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS tt
        FROM pre
    )
    SELECT na AS n_a, nb AS n_b,
           CAST(r2 - na * (na + 1) AS BIGINT) AS u_a_x2,
           ROUND((CAST(r2 - na * (na + 1) AS DOUBLE) / 2.0
                  - na * nb / 2.0)
                 / sqrt(na * nb / 12.0
                        * ((na + nb + 1)
                           - CAST(tt AS DOUBLE)
                             / ((na + nb) * (na + nb - 1.0)))),
                 6) + 0 AS z
    FROM agg
"""


def revenue_concentration_orders(spark: SparkSession,
                                 sf: str) -> DataFrame:
    """Revenue concentration: customers ranked by revenue DESC into
    deciles (1 = top spenders), with each decile's customer count,
    exact-cents revenue, share, and cumulative share — the Lorenz /
    Pareto "top 10% drive X%" table. The global rank is one ordering
    of the distributed row-number engine (one bounds pass, one
    offsets collect, per-bucket windows) over the per-customer census
    (revenue negated to a long so DESC is an exact ascending rank);
    the only other window is the cumulative share over the ≤10-row
    decile frame, and it cumulates INTEGER cents (one final
    division), so every share is a single exact-operand float op."""
    from pyspark.sql import Window

    from tablite_spark.functions.buckets import distributed_row_number
    o = _t(spark, sf, "orders")
    cen = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0))
                .cast("long").alias("__mc__"))
           .withColumn("__neg__", -F.col("__mc__")))
    # pinned: the row-number engine reads its input three times
    # (bounds, offsets, output)
    ranked, n = distributed_row_number(
        pin(cen, eager=True), {"__rank__": ["__neg__", "custkey"]})
    dec = (ranked
           .withColumn("decile",
                       (F.lit(1)
                        + F.expr(f"((__rank__ - 1) * 10) DIV {n}"))
                       .cast("int"))
           .groupBy("decile")
           .agg(F.count(F.lit(1)).alias("n_customers"),
                F.sum("__mc__").alias("__dc__")))
    total = dec.agg(F.sum("__dc__").alias("__t__"))
    w = (Window.orderBy("decile")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # the cumulative window runs over the <=10-row decile frame only
    return (dec.withColumn("__cdc__", F.sum("__dc__").over(w))
            .crossJoin(F.broadcast(total))
            .select("decile", "n_customers",
                    (F.col("__dc__").cast("double") / 100)
                    .alias("revenue"),
                    (F.col("__dc__").cast("double")
                     / F.col("__t__").cast("double")).alias("share"),
                    (F.col("__cdc__").cast("double")
                     / F.col("__t__").cast("double"))
                    .alias("cum_share")))


ORACLES["revenue_concentration_orders"] = """
    WITH cen AS (
        SELECT o_custkey AS custkey,
               CAST(sum(round(o_totalprice * 100, 0)) AS BIGINT)
                   AS mc
        FROM orders GROUP BY 1
    ), rk AS (
        SELECT *,
               row_number() OVER (ORDER BY -mc, custkey) AS r,
               (SELECT count(*) FROM cen) AS n
        FROM cen
    ), dec AS (
        SELECT CAST(1 + ((r - 1) * 10) // n AS INT) AS decile,
               count(*) AS n_customers,
               CAST(sum(mc) AS BIGINT) AS dc
        FROM rk GROUP BY 1
    )
    SELECT decile, n_customers,
           CAST(dc AS DOUBLE) / 100 AS revenue,
           CAST(dc AS DOUBLE)
               / CAST((SELECT sum(dc) FROM dec) AS DOUBLE) AS share,
           CAST(sum(dc) OVER (ORDER BY decile) AS DOUBLE)
               / CAST((SELECT sum(dc) FROM dec) AS DOUBLE)
               AS cum_share
    FROM dec
"""


def grouped_weighted_median_lineitem(spark: SparkSession,
                                     sf: str) -> DataFrame:
    """Quantity-weighted price quartiles per return flag
    (``operators/stats.py:grouped_weighted_quantiles``): the
    frequency-weighted order statistic a billing census needs
    without exploding weights into rows. Prices ride as exact
    integer cents and weights as exact integer units, so every
    cumulative comparison is a single exact-operand multiply —
    the picked values need no rounding."""
    from tablite_spark.operators.stats import grouped_weighted_quantiles
    li = _t(spark, sf, "lineitem")
    base = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        .alias("pc"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("qty"))
    out = grouped_weighted_quantiles(
        base, ["l_returnflag"], "pc", "qty", [0.25, 0.5, 0.75])
    return out.select("l_returnflag", "q",
                      (F.col("value").cast("double") / 100)
                      .alias("price"))


ORACLES["grouped_weighted_median_lineitem"] = """
    WITH cens AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc,
               CAST(sum(CAST(round(l_quantity, 0) AS BIGINT))
                    AS BIGINT) AS wt
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
          AND round(l_quantity, 0) > 0
        GROUP BY 1, 2
    ), cum AS (
        -- tw must NOT be spelled "W": DuckDB identifiers are
        -- case-insensitive and "W" would collide with column wt's
        -- former name, silently resolving to the per-row weight
        SELECT *,
               sum(wt) OVER (PARTITION BY l_returnflag
                             ORDER BY pc) AS cw,
               sum(wt) OVER (PARTITION BY l_returnflag) AS tw
        FROM cens
    )
    SELECT l_returnflag, q, CAST(min(pc) AS DOUBLE) / 100 AS price
    FROM cum, (SELECT unnest([0.25, 0.5, 0.75]) AS q)
    WHERE cw >= q * tw
    GROUP BY 1, 2
"""


def bollinger_events(spark: SparkSession, sf: str) -> DataFrame:
    """Bollinger bands per event type: each hourly bucket's mean
    value against the trailing-24-bucket rolling mean ± 2σ — the
    volatility envelope behind ops dashboards. The corpus collapses
    FIRST into one combinable (type, hour) census of exact integer
    moments (n, Σvc, Σvc²); the rolling window then runs over the
    CENSUS (≤ |hours| rows per type, time-bounded), cumulating those
    INTEGER moments so the mean/σ of each 24-bucket frame derive
    from exact operands — band edges round at the oracle boundary
    only because σ is a sqrt. Buckets with < 2 trailing observations
    ship NULL bands on both engines."""
    ev = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull())
    vc = F.round(F.col("value") * 100, 0).cast("long")
    cen = (ev.groupBy(F.col("event_type"),
                      F.date_trunc("hour",
                                   F.col("ts").cast("timestamp"))
                      .alias("bucket"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(vc).alias("s1"),
                F.sum(vc * vc).alias("s2")))
    from pyspark.sql import Window
    w = (Window.partitionBy("event_type").orderBy("bucket")
         .rowsBetween(-23, Window.currentRow))
    rn = F.sum("n").over(w)
    rs1 = F.sum("s1").over(w)
    rs2 = F.sum("s2").over(w)
    m = rs1.cast("double") / rn / 100.0
    var = ((rs2.cast("double") / 10000.0 - rn * m * m)
           / (rn - 1))
    sd = F.when(rn >= 2, F.sqrt(var))
    return cen.select(
        "event_type", "bucket", "n",
        (F.col("s1").cast("double") / F.col("n") / 100.0)
        .alias("bucket_mean"),
        (F.round(m, 6) + 0).alias("roll_mean"),
        (F.round(m - 2 * sd, 6) + 0).alias("band_lo"),
        (F.round(m + 2 * sd, 6) + 0).alias("band_hi"))


ORACLES["bollinger_events"] = """
    WITH cen AS (
        SELECT event_type,
               date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS s1,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
                        * CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS s2
        FROM events
        WHERE value IS NOT NULL AND ts IS NOT NULL
        GROUP BY 1, 2
    ), roll AS (
        SELECT *,
               sum(n) OVER w AS rn, sum(s1) OVER w AS rs1,
               sum(s2) OVER w AS rs2
        FROM cen
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, bucket, n,
           CAST(s1 AS DOUBLE) / n / 100.0 AS bucket_mean,
           ROUND(CAST(rs1 AS DOUBLE) / rn / 100.0, 6) + 0
               AS roll_mean,
           CASE WHEN rn >= 2 THEN ROUND(
               CAST(rs1 AS DOUBLE) / rn / 100.0
               - 2 * sqrt((CAST(rs2 AS DOUBLE) / 10000.0
                           - rn * (CAST(rs1 AS DOUBLE) / rn / 100.0)
                             * (CAST(rs1 AS DOUBLE) / rn / 100.0))
                          / (rn - 1)), 6) + 0 END AS band_lo,
           CASE WHEN rn >= 2 THEN ROUND(
               CAST(rs1 AS DOUBLE) / rn / 100.0
               + 2 * sqrt((CAST(rs2 AS DOUBLE) / 10000.0
                           - rn * (CAST(rs1 AS DOUBLE) / rn / 100.0)
                             * (CAST(rs1 AS DOUBLE) / rn / 100.0))
                          / (rn - 1)), 6) + 0 END AS band_hi
    FROM roll
"""


def theil_sen_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Robust price-over-time trend: the Theil-Sen estimator (median
    of all pairwise slopes — 29% breakdown point, the outlier-proof
    alternative to OLS) over a DETERMINISTIC hash sample of orders
    (custkey % 97 == 0). Theil-Sen is inherently O(n^2) in its
    input; the scale answer is the bounded sample (documented
    valve, ~1.5k orders -> ~1M pairs at sf0.1), after which the
    pair frame is an inequality self-join BOUNDED BY CONSTRUCTION.
    Slopes are one identical IEEE division of exact integers
    (cents / days); the median interpolates, so it rounds at the
    boundary, and the intercept median uses the ROUNDED slope so
    both engines feed identical operands."""
    o = _t(spark, sf, "orders")
    s = (o.filter((F.col("o_custkey") % 97 == 0)
                  & F.col("o_totalprice").isNotNull()
                  & F.col("o_orderdate").isNotNull())
         .select(F.col("o_orderkey").alias("k"),
                 F.datediff(F.col("o_orderdate").cast("date"),
                            F.lit("1970-01-01").cast("date"))
                 .cast("long").alias("x"),
                 F.round(F.col("o_totalprice") * 100, 0)
                 .cast("long").alias("yc")))
    # r14 optimization round: the ~1.5k-row sample reads as ONE
    # parquet split, so the inequality self-join and the exact
    # percentile over its ~1.2M slopes all ran in a single task
    # (measured: 5.3 s of the query's 5.9 s). Pin the sample once
    # and spread the pair fan-out across the cores — the percentile
    # buffers then fill in parallel and only the final merge sees
    # the full multiset (order-free, bit-identical median).
    s = pin(s, eager=True)
    wide = s.repartition(spark.sparkContext.defaultParallelism)
    pairs = (wide.alias("a").join(
        F.broadcast(s).alias("b"), F.col("a.k") < F.col("b.k"))
        .filter(F.col("a.x") != F.col("b.x"))
        .select(((F.col("b.yc") - F.col("a.yc")).cast("double")
                 / (F.col("b.x") - F.col("a.x")))
                .alias("slope")))
    # r14 optimization round, second pass: the slope median still
    # merged ~1.2M boxed doubles through ONE task (Percentile's
    # buffer). Pin the pair frame once (≈10 MB of doubles) and take
    # the median via stats.exact_percentiles (two-level order
    # statistics, bit-identical — see its test); the ROUND of the
    # same double stays in Spark so the rounding mode is unchanged.
    from tablite_spark.operators.stats import exact_percentiles
    pairs = pin(pairs, eager=True)
    n_pairs = pairs.count()
    med = exact_percentiles(pairs, {"slope": [0.5]})["slope"]
    release(pairs)
    agg = spark.range(1).select(
        F.lit(n_pairs).cast("long").alias("n_pairs"),
        (F.round(F.lit(med[0] if med else None).cast("double"), 6)
         + 0).alias("slope_cents_per_day"))
    npts = s.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    res = npts.crossJoin(F.broadcast(agg))
    ic = (s.crossJoin(F.broadcast(
        res.select("slope_cents_per_day")))
        .select((F.col("yc").cast("double")
                 - F.col("slope_cents_per_day") * F.col("x"))
                .alias("r"))
        .agg((F.round(F.expr("percentile(r, 0.5)"), 4) + 0)
             .alias("intercept_cents")))
    return res.crossJoin(F.broadcast(ic)).select(
        "n_points", "n_pairs", "slope_cents_per_day",
        "intercept_cents")


ORACLES["theil_sen_orders"] = """
    WITH s AS (
        SELECT o_orderkey AS k,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS x,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders
        WHERE o_custkey % 97 = 0 AND o_totalprice IS NOT NULL
          AND o_orderdate IS NOT NULL
    ), pairs AS (
        SELECT (b.yc - a.yc) / CAST(b.x - a.x AS DOUBLE) AS slope
        FROM s a JOIN s b ON a.k < b.k AND a.x != b.x
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               ROUND(quantile_cont(slope, 0.5), 6) + 0
                   AS slope_cents_per_day
        FROM pairs
    ), ic AS (
        SELECT ROUND(quantile_cont(
                   CAST(yc AS DOUBLE) - agg.slope_cents_per_day * x,
                   0.5), 4) + 0 AS intercept_cents
        FROM s, agg
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_points,
           agg.n_pairs, agg.slope_cents_per_day, ic.intercept_cents
    FROM agg, ic
"""
