"""Round-14 query wave — closing the streaming evidence gaps the
r13 VERDICT named (tasks 2/3/7) plus four new batch capabilities,
each under the strict DuckDB value-hash + dtype-class gate.

Streaming (driver-oracled through REAL StreamingQuery runs, the
r13 sentinel-batch discipline):

- ``stream_interval_join_outer_events`` — the OUTER form of the r13
  stream-stream interval join: unmatched purchases are held in state
  until the watermark proves no view can still arrive, THEN emitted
  null-padded; two trailing far-future sentinel batches per side
  flush the trailing nulls. Oracle = the batch LEFT join.
- ``exactly_once_sink_events`` — the idempotent ``foreachBatch``
  parquet sink driven through a FORCED batch-0 replay (the
  checkpoint's commit marker is deleted between two runs, exactly
  the at-least-once crash window); the oracle is the plain batch
  census, so a duplicated replay row would hash-mismatch — the
  exactly-once claim is now a receipt, not pytest prose.
- ``stream_dedup_watermark_events`` — ``dropDuplicatesWithinWatermark``
  (the bounded-state dedup-in-flight shape): every event arrives
  TWICE, the second copy in a later micro-batch, so the cross-batch
  key state is the thing under test; oracle = the distinct batch
  census. TTL eviction (a dup arriving after its key's state
  expires is re-admitted) is pinned in tests/test_round14.py.

Batch:

- ``rfm_segments_orders`` — RFM quintile scoring on the distributed
  row-number engine (never a single-task global sort).
- ``mann_whitney_events`` — tie-corrected Mann-Whitney U via the
  census-prefix discipline; exact integer 2·U.
- ``revenue_concentration_orders`` — Lorenz/Pareto decile table
  (distributed rank by revenue desc, exact-cents cumulative shares).
- ``kfold_splits_docs`` — deterministic md5-mod-k fold assignment
  (engine-portable integer hash; append-consistent CV splits).
"""
from __future__ import annotations

import datetime
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablite_spark.plans.hints import maybe_broadcast
from tablite_spark.plans.lifecycle import pin, pinned, release
from tablite_spark.registry._base import _t
from tablite_spark.streaming.fixtures import (
    stage_stream_batches, stream_shuffle_partitions)

ROUND14_ORACLES: dict[str, str] = {}


def _co_order_pairs(li: DataFrame, cap: int = 5) -> DataFrame:
    """(bk, src, dst) co-order part pairs of the capped basket graph
    — one row per (basket, unordered pair), ``src < dst``. Shared by
    the six graph queries; consumers drop ``bk`` and add
    ``.distinct()`` when they need the simple graph.

    r14 optimization round (guide §2.2, shuffle less): the original
    four-exchange pipeline (distinct (bk,it) → basket census →
    cap semi-join → bk self-join) is ONE combinable ``collect_set``
    groupBy plus an in-row pair expansion — the census, the cap
    filter and the pair fan-out all happen inside the aggregated row
    (a kept basket holds <= ``cap`` items, so it fans out to
    <= cap·(cap-1)/2 structs). Multiset-identical to the self-join
    (verified at sf0.01: 52,049 = 52,049 rows, zero exceptAll diff);
    the oracle SQL keeps the self-join formulation — two different
    pair expansions agreeing.

    The single-row-group lineitem scan is spread across cores before
    the groupBy so the partial collect_set (the map side of the one
    shuffle) fills the machine instead of one task; the pair set is
    order-free (x < y expansion), so the result is partition- and
    set-order-invariant. No-op at corpus scale."""
    spark = li.sparkSession
    if li.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        li = li.repartition(spark.sparkContext.defaultParallelism)
    return (li.filter(F.col("l_orderkey").isNotNull()
                      & F.col("l_partkey").isNotNull())
            .groupBy(F.col("l_orderkey").alias("bk"))
            .agg(F.collect_set("l_partkey").alias("__items__"))
            .filter(F.size("__items__") <= cap)
            .select("bk", F.explode(F.expr(
                "flatten(transform(__items__, x -> "
                "transform(filter(__items__, y -> y > x), "
                "y -> struct(x AS src, y AS dst))))")).alias("p"))
            .select("bk", "p.src", "p.dst"))


def _stage_batches(root: str, name: str, parts: list[DataFrame],
                   base_mtime: int = 1_700_000_000) -> str:
    """Stage each part as one mtime-pinned parquet file under
    ``root/name`` so a file-source readStream with
    ``maxFilesPerTrigger=1`` replays them as ordered micro-batches
    (the r13 fixture discipline). Since the r14 optimization round
    the staging is one Arrow transfer per part instead of a
    ``coalesce(1)`` Spark write — see ``streaming/fixtures.py``."""
    return stage_stream_batches(root, name, parts, base_mtime)


# --------------------------------------------------------------------
# streaming: outer interval join (r13 VERDICT task 2)
# --------------------------------------------------------------------

def stream_interval_join_outer_events(spark: SparkSession,
                                      sf: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join through two real
    streams: every purchase pairs with the same user's views within
    the DAY before it, and a purchase with NO such view must still
    emit — null-padded — once the watermark PROVES no matching view
    can arrive. That finalization is the thing under test: Spark
    holds the unmatched purchase in join state until the global
    watermark passes its join window, so a query that stops at the
    last data batch never sees the trailing nulls. Two trailing
    far-future sentinel batches per side advance the watermark (the
    r13 session-window discipline: the watermark computed at the end
    of batch N applies to batch N+1 — the first sentinel finalizes
    nothing, the second flushes every held row). Oracle = the plain
    batch LEFT join; exact row set (integer-microsecond gap, NULL
    for unmatched).

    Scale shape: join state is watermark-bounded on both sides
    (right rows older than watermark − within are evicted; left rows
    leave state the moment they finalize), so state is horizon-sized,
    never stream-length-sized."""
    from tablite_spark.streaming.ops import stream_interval_join
    ev = (_t(spark, sf, "events")
          .filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull())
          .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_id", "event_type"))
    us = F.unix_micros(F.col("ts"))
    cut, hi = ev.agg(
        F.percentile(us, F.lit(0.5)).alias("m"),
        F.max("ts").alias("hi")).collect()[0]
    import pyarrow as pa
    root = tempfile.mkdtemp(prefix="sijo_stream_")
    sent = [pa.table({
        "user_id": [-1],
        "ts": [hi + datetime.timedelta(days=30 * (i + 1))],
        "event_id": [-1]}) for i in range(2)]
    streams = {}
    for name, etype in (("l", "purchase"), ("r", "view")):
        side = ev.filter(F.col("event_type") == etype).drop("event_type")
        src = _stage_batches(root, name, [
            side.filter(us <= F.lit(int(cut))),
            side.filter(us > F.lit(int(cut))),
            sent[0], sent[1]])
        streams[name] = (spark.readStream
                         .schema("user_id long, ts timestamp, "
                                 "event_id long")
                         .option("maxFilesPerTrigger", 1)
                         .option("latestFirst", "false").parquet(src))
    joined = stream_interval_join(streams["l"], streams["r"],
                                  key="user_id", within="1 day",
                                  how="leftOuter")
    out_cols = joined.select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("view_id"),
        (F.unix_micros(F.col("l.ts"))
         - F.unix_micros(F.col("r.ts"))).alias("gap_us"))
    with stream_shuffle_partitions(spark, f"{root}/l", f"{root}/r"):
        q = (out_cols.writeStream.format("parquet")
             .option("path", f"{root}/out")
             .option("checkpointLocation", f"{root}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.read.parquet(f"{root}/out")
            .filter(F.col("user_id") >= 0))


ROUND14_ORACLES["stream_interval_join_outer_events"] = """
    WITH p AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'purchase'
          AND user_id IS NOT NULL AND ts IS NOT NULL
    ), v AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'view'
          AND user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT p.user_id,
           p.event_id AS purchase_id,
           v.event_id AS view_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 DAY
"""


# --------------------------------------------------------------------
# streaming: exactly-once sink with forced replay (task 3)
# --------------------------------------------------------------------

def exactly_once_sink_events(spark: SparkSession, sf: str) -> DataFrame:
    """Idempotent ``foreachBatch`` parquet sink
    (``streaming/ops.py:exactly_once_parquet_sink``) driven through a
    FORCED batch replay: run batch 0, then delete the checkpoint's
    ``commits/0`` marker — the exact at-least-once crash window
    (sink write landed, commit didn't) — then restart from the same
    checkpoint with batch 1's file now present. Spark re-executes
    batch 0 FROM ITS PINNED OFFSETS and the per-batch-partition
    ``mode=overwrite`` write replaces (never appends beside) the
    first attempt's files. The oracle is the plain batch census, so
    ONE duplicated or dropped row anywhere hash-mismatches: the
    exactly-once upgrade is value-checked, not asserted."""
    from tablite_spark.streaming.ops import exactly_once_parquet_sink
    ev = (_t(spark, sf, "events")
          .filter(F.col("ts").isNotNull())
          .select("event_id", "user_id",
                  F.col("ts").cast("timestamp").alias("ts"), "value"))
    us = F.unix_micros(F.col("ts"))
    cut = ev.agg(F.percentile(us, F.lit(0.5))
                 .alias("m")).collect()[0]["m"]
    root = tempfile.mkdtemp(prefix="e1x_sink_")
    parts = [ev.filter(us <= F.lit(int(cut))),
             ev.filter(us > F.lit(int(cut)))]
    # stage ONLY batch 0; batch 1 arrives after the forced crash
    src = _stage_batches(root, "src", parts[:1])
    schema = "event_id long, user_id long, ts timestamp, value double"

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false").parquet(src))
        with stream_shuffle_partitions(spark, src):
            q = exactly_once_parquet_sink(stream, f"{root}/out",
                                          f"{root}/ckpt")
            q.awaitTermination()

    run()                                   # drains batch 0, commits
    # simulate the crash window: batch 0's sink write survived but
    # its commit marker didn't -> the restart MUST replay batch 0
    os.remove(f"{root}/ckpt/commits/0")
    # the local FS keeps a .crc shadow per log file; a stale one
    # blocks the replayed commit's rename on restart
    crc = f"{root}/ckpt/commits/.0.crc"
    if os.path.exists(crc):
        os.remove(crc)
    _stage_batches(root, "src", parts)      # batch 1's file lands
    run()                                   # replays 0, processes 1
    return (spark.read.parquet(f"{root}/out")
            .select("event_id", "user_id", "ts", "value"))


ROUND14_ORACLES["exactly_once_sink_events"] = """
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE ts IS NOT NULL
"""


# --------------------------------------------------------------------
# streaming: dropDuplicatesWithinWatermark (task 7)
# --------------------------------------------------------------------

def stream_dedup_watermark_events(spark: SparkSession,
                                  sf: str) -> DataFrame:
    """Bounded-state streaming dedup via
    ``dropDuplicatesWithinWatermark`` — the idiomatic 100 TB
    dedup-in-flight shape (state per key expires once the event-time
    watermark passes key-ts + delay, unlike plain ``dropDuplicates``
    whose state grows with the stream). The feed delivers EVERY event
    twice: copy A split across two micro-batches, copy B as a third
    batch — so each duplicate pair straddles a batch boundary and the
    cross-batch key state is the thing under test. The 40-day delay
    exceeds the fixture's 30-day span, so no fixture key expires and
    the exact output is the distinct census (= the base events);
    TTL EVICTION semantics — a dup arriving after its key's state
    expired is re-admitted, and a row older than the watermark is
    dropped outright — are pinned in tests/test_round14.py, where
    the timestamps are hand-controlled."""
    from tablite_spark.streaming.ops import stream_dedup
    ev = (_t(spark, sf, "events")
          .filter(F.col("ts").isNotNull())
          .select("event_id",
                  F.col("ts").cast("timestamp").alias("ts"),
                  "user_id", "event_type"))
    us = F.unix_micros(F.col("ts"))
    cut = ev.agg(F.percentile(us, F.lit(0.5))
                 .alias("m")).collect()[0]["m"]
    root = tempfile.mkdtemp(prefix="dedup_wm_")
    src = _stage_batches(root, "src", [
        ev.filter(us <= F.lit(int(cut))),        # copy A, first half
        ev.filter(us > F.lit(int(cut))),         # copy A, second half
        ev,                                      # copy B (all dupes)
    ])
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string")
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    with stream_shuffle_partitions(spark, src):
        q = (stream_dedup(stream, ["event_id"], watermark="40 days")
             .writeStream.format("parquet")
             .option("path", f"{root}/out")
             .option("checkpointLocation", f"{root}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return spark.read.parquet(f"{root}/out")


ROUND14_ORACLES["stream_dedup_watermark_events"] = """
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
    FROM events WHERE ts IS NOT NULL
"""


# --------------------------------------------------------------------
# batch: RFM segmentation
# --------------------------------------------------------------------

def rfm_segments_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Per-customer RFM (recency / frequency / monetary) quintile
    scores — the classic CRM segmentation. Each metric ranks ALL
    customers via the distributed row-number engine
    (``functions/buckets.py:distributed_row_number``: deterministic
    range buckets + per-bucket windows + one |buckets|-row offset
    collect — never a single-task global sort), then quintile
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
    # r14 optimization round (guide §2.1): each distributed_row_number
    # call evaluates its input three times (bounds pass, offsets
    # collect, output plan) — pin the customer census so every pass
    # reads a checkpoint. r15 (guide §2.6 overlap independent jobs;
    # r14 VERDICT item 7): the three metric rank chains are
    # INDEPENDENT given the pinned census — each is a pure function
    # of (metric, custkey) over the same row set — so they run
    # concurrently from a thread pool (the spearman discipline)
    # instead of a ~13-job serial cascade, and the per-metric
    # (custkey, rank) slivers join back on custkey. Ranks are
    # bit-identical to the chained form: a rank depends only on its
    # own order columns and the row set, never on the other ranks.
    cen = pin(cen, eager=True)
    from concurrent.futures import ThreadPoolExecutor

    def _rank(metric: str, out: str):
        r, n = distributed_row_number(cen, [metric, "custkey"], out)
        return pin(r.select("custkey", out), eager=True), n

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_r = pool.submit(_rank, "recency_days", "__rr__")
        f_f = pool.submit(_rank, "n_orders", "__rf__")
        f_m = pool.submit(_rank, "__mc__", "__rm__")
        (rr, n), (rf, _), (rm, _) = (f_r.result(), f_f.result(),
                                     f_m.result())
    ranked = cen.join(rr, "custkey").join(rf, "custkey") \
                .join(rm, "custkey")
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


ROUND14_ORACLES["rfm_segments_orders"] = """
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


# --------------------------------------------------------------------
# batch: Mann-Whitney U
# --------------------------------------------------------------------

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


ROUND14_ORACLES["mann_whitney_events"] = """
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


# --------------------------------------------------------------------
# batch: revenue concentration (Lorenz deciles)
# --------------------------------------------------------------------

def revenue_concentration_orders(spark: SparkSession,
                                 sf: str) -> DataFrame:
    """Revenue concentration: customers ranked by revenue DESC into
    deciles (1 = top spenders), with each decile's customer count,
    exact-cents revenue, share, and cumulative share — the Lorenz /
    Pareto "top 10% drive X%" table. The global rank runs on the
    distributed row-number engine over the per-customer census
    (revenue negated to a long so DESC is an exact ascending rank);
    the only window is the cumulative share over the ≤10-row decile
    frame, and it cumulates INTEGER cents (one final division), so
    every share is a single exact-operand float op."""
    from pyspark.sql import Window

    from tablite_spark.functions.buckets import distributed_row_number
    o = _t(spark, sf, "orders")
    cen = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0))
                .cast("long").alias("__mc__"))
           .withColumn("__neg__", -F.col("__mc__")))
    # pinned: the row-number engine evaluates its input three times
    # (bounds, offsets, output) — see rfm_segments_orders
    cen = pin(cen, eager=True)
    ranked, n = distributed_row_number(
        cen, ["__neg__", "custkey"], "__rank__")
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


ROUND14_ORACLES["revenue_concentration_orders"] = """
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


# --------------------------------------------------------------------
# batch: k-fold splits
# --------------------------------------------------------------------

def kfold_splits_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment over the
    corpus (``pipeline/sampling.py:kfold_assign``: md5-mod-k, the
    engine-portable integer-hash discipline — rerun-stable,
    partitioning-independent, append-consistent), summarized per
    fold: doc count, id checksum, character mass. The per-fold
    balance of a hash split is itself the thing a training pipeline
    audits before trusting the CV."""
    from tablite_spark.pipeline.sampling import kfold_assign
    docs = _t(spark, sf, "documents")
    return (kfold_assign(docs, "doc_id", k=5, salt="cv")
            .groupBy("fold")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").cast("long").alias("id_sum"),
                 F.sum(F.length("text")).cast("long")
                 .alias("char_sum")))


ROUND14_ORACLES["kfold_splits_docs"] = """
    WITH f AS (
        SELECT CAST(CAST(('0x' || substring(
                   md5('cv' || CAST(doc_id AS VARCHAR)), 1, 15))
                   AS UBIGINT) % 5 AS INT) AS fold,
               doc_id, length(text) AS chars
        FROM documents
    )
    SELECT fold, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(chars) AS BIGINT) AS char_sum
    FROM f GROUP BY 1
"""


# --------------------------------------------------------------------
# batch: grouped weighted median
# --------------------------------------------------------------------

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


ROUND14_ORACLES["grouped_weighted_median_lineitem"] = """
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


# --------------------------------------------------------------------
# batch: Bollinger bands over the hourly census
# --------------------------------------------------------------------

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


ROUND14_ORACLES["bollinger_events"] = """
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


# --------------------------------------------------------------------
# batch: tokenizer fertility by language
# --------------------------------------------------------------------

def tokenizer_fertility_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility census per language: BPE-ish piece count
    (letter runs / digit runs / single punctuation — the cheap BPE
    proxy) per character, the statistic that decides whether a
    tokenizer under- or over-segments a language. The token regex
    spells out its whitespace class EXPLICITLY
    ('[^ \\t\\n\\x0B\\f\\rA-Za-z0-9]') because Java's '\\\\s' includes
    \\x0B while RE2's does not — the char_entropy lesson applied
    BEFORE the divergence bites. Pure combinable arithmetic: one
    regexp count + one groupBy; fertility is a single division of
    exact integers, rounded at the boundary."""
    docs = _t(spark, sf, "documents")
    toks = F.size(F.regexp_extract_all(
        F.col("text"),
        F.lit("[A-Za-z]+|[0-9]+|[^ \t\n\x0b\f\rA-Za-z0-9]"), 0))
    out = (docs.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(toks).cast("long").alias("n_tokens"),
                F.sum(F.length("text")).cast("long")
                .alias("n_chars")))
    return out.select(
        "lang", "n_docs", "n_tokens", "n_chars",
        (F.round(F.col("n_tokens").cast("double")
                 / F.col("n_chars"), 6) + 0).alias("fertility"))


ROUND14_ORACLES["tokenizer_fertility_docs"] = """
    WITH f AS (
        SELECT lang,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^ \t\n' || chr(11) ||
                   chr(12) || chr(13) || 'A-Za-z0-9]')) AS toks,
               length(text) AS chars
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS n_tokens,
           CAST(sum(chars) AS BIGINT) AS n_chars,
           ROUND(CAST(sum(toks) AS DOUBLE) / sum(chars), 6) + 0
               AS fertility
    FROM f GROUP BY 1
"""


# --------------------------------------------------------------------
# streaming: event-time-timeout sessionizer (abandoned-cart feed)
# --------------------------------------------------------------------

def stream_session_timeout_events(spark: SparkSession,
                                  sf: str) -> DataFrame:
    """Sessionization through ``streaming/ops.py:
    streaming_session_timeout`` — the EVENT-TIME-TIMEOUT state
    primitive: interior sessions emit on the data path, but each
    key's FINAL session emits only when the watermark passes
    last_event + gap and the ``GroupStateTimeout.EventTimeTimeout``
    fires (no successor event exists to close it). Two trailing
    sentinel batches advance the watermark so every trailing session
    times out before the availableNow drain stops: the r13 flush
    discipline applied to the timeout path instead of the
    session_window operator. The conversion flag rides along, so
    this is the abandoned-cart feed; the oracle is the batch
    gaps-and-islands sessionization with the same >= 30 min
    half-open gap rule."""
    from tablite_spark.streaming.ops import streaming_session_timeout
    ev = (_t(spark, sf, "events")
          .filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull())
          .select("user_id",
                  F.col("ts").cast("timestamp").alias("ts"),
                  "event_type"))
    us = F.unix_micros(F.col("ts"))
    cut, hi = ev.agg(
        F.percentile(us, F.lit(0.5)).alias("m"),
        F.max("ts").alias("hi")).collect()[0]
    import pyarrow as pa
    root = tempfile.mkdtemp(prefix="sess_to_")
    sent = [pa.table({
        "user_id": [-1],
        "ts": [hi + datetime.timedelta(days=30 * (i + 1))],
        "event_type": ["view"]}) for i in range(2)]
    src = _stage_batches(root, "src", [
        ev.filter(us <= F.lit(int(cut))),
        ev.filter(us > F.lit(int(cut))),
        sent[0], sent[1]])
    stream = (spark.readStream
              .schema("user_id long, ts timestamp, "
                      "event_type string")
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    with stream_shuffle_partitions(spark, src):
        q = (streaming_session_timeout(stream)
             .writeStream.format("parquet")
             .option("path", f"{root}/out")
             .option("checkpointLocation", f"{root}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.read.parquet(f"{root}/out")
            .filter(F.col("user_id") >= 0))


ROUND14_ORACLES["stream_session_timeout_events"] = """
    WITH o AS (
        SELECT user_id, ts, event_type,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         >= 1800000000
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT user_id, ts, event_type,
               sum(ns) OVER (PARTITION BY user_id
                             ORDER BY ts) AS sid
        FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           CAST(max(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BOOLEAN) AS purchased
    FROM s GROUP BY user_id, sid
"""


# --------------------------------------------------------------------
# batch: triangle census (graph analytics)
# --------------------------------------------------------------------

def triangle_count_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the part co-order graph
    (``pipeline/graph.py:triangle_count``): nodes are parts, an edge
    joins two parts co-ordered in a ≤5-item basket (the item_cosine
    valve), and the count runs on the degree-ordered orientation —
    every node's out-degree is O(sqrt|E|), so the wedge join fans
    out by ORIENTED degree, never a hub's raw degree. The oracle is
    the plain a<b<c triple self-join: two different triangle
    algorithms agreeing. All counts exact BIGINT; the transitivity
    coefficient rounds at the boundary."""
    from tablite_spark.pipeline.graph import triangle_count
    li = _t(spark, sf, "lineitem")
    edges = _co_order_pairs(li).select("src", "dst")
    out = triangle_count(edges, "src", "dst")
    return out.select("n_nodes", "n_edges", "n_triangles",
                      "n_wedges",
                      (F.round(F.col("clustering"), 6) + 0)
                      .alias("clustering"))


ROUND14_ORACLES["triangle_count_lineitem"] = """
    WITH base AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), deg AS (
        SELECT n, count(*) AS d FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e
        ) GROUP BY 1
    ), tri AS (
        SELECT count(*) AS t
        FROM e e1 JOIN e e2 ON e1.v = e2.u AND e1.u < e2.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
           (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg)
               AS n_wedges,
           CASE WHEN (SELECT sum(d * (d - 1) / 2) FROM deg) > 0
                THEN ROUND(3.0 * (SELECT t FROM tri)
                           / (SELECT sum(d * (d - 1) / 2) FROM deg),
                           6) + 0 END AS clustering
"""


# --------------------------------------------------------------------
# streaming: incremental materialized view with forced replay
# --------------------------------------------------------------------

def stream_matview_events(spark: SparkSession, sf: str) -> DataFrame:
    """Incrementally-maintained aggregate table
    (``streaming/ops.py:incremental_matview_sink``) under a FORCED
    batch-0 replay: per-(event_type, day) count + exact-cents sum
    partials land in per-batch partitions (overwrite = idempotent)
    and compact into a swap-served view each batch. The fixture
    deletes the checkpoint's commits/0 marker between two runs —
    the exactly_once_sink_events crash window — so the hash-matched
    oracle proves the VIEW converges to the batch truth through a
    real replay, which is the whole claim of an incremental MV."""
    from tablite_spark.streaming.ops import incremental_matview_sink
    ev = (_t(spark, sf, "events")
          .filter(F.col("ts").isNotNull()
                  & F.col("value").isNotNull())
          .select("event_type",
                  F.date_trunc("day", F.col("ts").cast("timestamp"))
                  .alias("day"),
                  F.round(F.col("value") * 100, 0).cast("long")
                  .alias("vc")))
    us = F.unix_micros(F.col("day"))
    cut = ev.agg(F.percentile(us, F.lit(0.5))
                 .alias("m")).collect()[0]["m"]
    root = tempfile.mkdtemp(prefix="matview_")
    parts = [ev.filter(us <= F.lit(int(cut))),
             ev.filter(us > F.lit(int(cut)))]
    src = _stage_batches(root, "src", parts[:1])
    schema = "event_type string, day timestamp, vc long"

    def run():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false").parquet(src))
        with stream_shuffle_partitions(spark, src):
            q = incremental_matview_sink(
                stream, ["event_type", "day"], "vc",
                f"{root}/mv", f"{root}/ckpt")
            q.awaitTermination()

    run()
    os.remove(f"{root}/ckpt/commits/0")
    crc = f"{root}/ckpt/commits/.0.crc"
    if os.path.exists(crc):
        os.remove(crc)
    _stage_batches(root, "src", parts)
    run()
    mv = spark.read.parquet(f"{root}/mv/serve")
    return mv.select("event_type", "day",
                     F.col("n").alias("n_events"),
                     (F.col("s").cast("double") / 100)
                     .alias("total_value"))


ROUND14_ORACLES["stream_matview_events"] = """
    SELECT event_type,
           date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                AS DOUBLE) / 100 AS total_value
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# batch: HyperLogLog distinct sketch (bit-exact register parity)
# --------------------------------------------------------------------

def hll_distinct_events(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type distinct-user HyperLogLog sketch
    (``functions/sketches.py``) with the EXACT distinct count beside
    it — the sketch-accuracy audit a pipeline runs before trusting
    sketched cardinalities at corpus scale. The register census is
    ONE combinable groupBy bounded at m=1024 rows per type (the
    mergeable-sketch shuffle shape: group x register, never
    group x user), the harmonic denominator accumulates in Q51
    FIXED-POINT BIGINT, and the md5-register arithmetic is replayed
    verbatim by the oracle — register state, zero counts and the
    Q51 denominator are bit-exact across engines; only the final
    estimate divides (and small-range ln's), rounded at the
    boundary."""
    from tablite_spark.functions.sketches import (hll_estimate,
                                                  hll_register_census)
    ev = _t(spark, sf, "events")
    cen = hll_register_census(ev, "user_id", ["event_type"])
    est = hll_estimate(cen, ["event_type"])
    exact = (ev.filter(F.col("user_id").isNotNull())
             .groupBy("event_type")
             .agg(F.countDistinct("user_id").cast("long")
                  .alias("exact_distinct")))
    return (est.join(exact, "event_type")
            .select("event_type", "n_present", "v_zero",
                    "denom_q51", "hll_estimate", "exact_distinct",
                    (F.round((F.col("hll_estimate")
                              / F.col("exact_distinct") - 1) * 100,
                             4) + 0).alias("rel_err_pct")))


def _hll_oracle() -> str:
    from tablite_spark.functions.sketches import hll_oracle_sql
    est = hll_oracle_sql("user_id", "events", "event_type")
    return f"""
    WITH est AS ({est}),
    x AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT)
                   AS exact_distinct
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT est.event_type, n_present, v_zero, denom_q51,
           hll_estimate, exact_distinct,
           ROUND((hll_estimate / exact_distinct - 1) * 100, 4) + 0
               AS rel_err_pct
    FROM est JOIN x ON est.event_type = x.event_type
    """


ROUND14_ORACLES["hll_distinct_events"] = _hll_oracle()


# --------------------------------------------------------------------
# batch: 2-D skyline (Pareto frontier)
# --------------------------------------------------------------------

def skyline_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Cheapest-earliest Pareto frontier of orders — every order not
    dominated on (total price, order date), i.e. no other order was
    both <= as cheap and <= as early with one strict. Runs on
    ``operators/skyline.py:skyline_2d``: a combinable price census
    + the range-bucket strict-prefix-min engine — windows only ever
    partition by the bounded bucket id, never one global sort task
    (the census-prefix discipline at frontier shape). Axes are
    exact integers (cents, epoch days); the oracle replays the
    frontier with a DuckDB global window over the same census."""
    from tablite_spark.operators.skyline import skyline_2d
    o = _t(spark, sf, "orders")
    pts = (o.filter(F.col("o_totalprice").isNotNull()
                    & F.col("o_orderdate").isNotNull())
           .select(F.round(F.col("o_totalprice") * 100, 0)
                   .cast("long").alias("price_cents"),
                   F.datediff(F.col("o_orderdate").cast("date"),
                              F.lit("1970-01-01").cast("date"))
                   .cast("long").alias("__yd__")))
    sky = skyline_2d(pts, "price_cents", "__yd__")
    return sky.select(
        "price_cents",
        F.expr("cast(date_add(DATE '1970-01-01', "
               "cast(__yd__ as int)) as timestamp)")
        .alias("orderdate"))


ROUND14_ORACLES["skyline_orders"] = """
    WITH p AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
                   AS price_cents,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS yd
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ), c AS (
        SELECT price_cents, min(yd) AS yd FROM p GROUP BY 1
    ), w AS (
        SELECT price_cents, yd,
               min(yd) OVER (ORDER BY price_cents
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS pm
        FROM c
    )
    SELECT price_cents,
           CAST(DATE '1970-01-01' + CAST(yd AS INTEGER) AS TIMESTAMP)
               AS orderdate
    FROM w WHERE pm IS NULL OR pm > yd
"""


# --------------------------------------------------------------------
# batch: grid-bucketed spatial radius join
# --------------------------------------------------------------------

def spatial_pairs_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Customer-supplier proximity pairs within radius 5000 on a
    deterministic 100k x 100k integer lattice (coordinates are
    md5-derived from the keys — the engine-portable hash
    discipline), via ``operators/spatial.py:grid_radius_join``: the
    9-neighbor cell equi join whose shuffle is |customers| +
    9|suppliers| rows keyed by cell — NEVER the cross join the
    DuckDB oracle deliberately runs (two different algorithms; any
    cell-hop miss at a boundary mismatches). Distances stay exact
    squared BIGINTs."""
    from tablite_spark.operators.spatial import grid_radius_join

    def lattice(df: DataFrame, key: str, out: str) -> DataFrame:
        def ax(salt: str):
            return (F.conv(F.substring(
                F.md5(F.concat(F.lit(salt),
                               F.col(key).cast("string"))), 1, 8),
                16, 10).cast("long") % 100000)
        return df.select(F.col(key).alias(out),
                         ax("gx").alias("x"), ax("gy").alias("y"))

    cust = lattice(_t(spark, sf, "customer"), "c_custkey", "custkey")
    supp = lattice(_t(spark, sf, "supplier"), "s_suppkey", "suppkey")
    out = grid_radius_join(cust, supp, radius=5000)
    return out.select(F.col("custkey_l").alias("custkey"),
                      F.col("suppkey_r").alias("suppkey"),
                      "dist_sq")


ROUND14_ORACLES["spatial_pairs_customers"] = """
    WITH c AS (
        SELECT c_custkey AS custkey,
               CAST(CAST(('0x' || substring(md5('gx' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100000 AS BIGINT) AS x,
               CAST(CAST(('0x' || substring(md5('gy' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100000 AS BIGINT) AS y
        FROM customer
    ), s AS (
        SELECT s_suppkey AS suppkey,
               CAST(CAST(('0x' || substring(md5('gx' ||
                   CAST(s_suppkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100000 AS BIGINT) AS x,
               CAST(CAST(('0x' || substring(md5('gy' ||
                   CAST(s_suppkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % 100000 AS BIGINT) AS y
        FROM supplier
    )
    SELECT custkey, suppkey,
           (c.x - s.x) * (c.x - s.x)
           + (c.y - s.y) * (c.y - s.y) AS dist_sq
    FROM c, s
    WHERE (c.x - s.x) * (c.x - s.x)
          + (c.y - s.y) * (c.y - s.y) <= 25000000
"""


# --------------------------------------------------------------------
# batch: multi-source BFS hop distance
# --------------------------------------------------------------------

def bfs_hops_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Hop distance from a seed set over the capped part co-order
    graph (the triangle-count graph): every part within 3 co-order
    hops of a seed part (partkey % 13 == 0), with its minimum hop
    count — the "k links from a trusted set" lineage-curation query.
    Runs on ``pipeline/graph.py:bfs_hops`` (Pregel frontier rounds:
    frontier ⋈ edges + combinable min + anti-join against settled
    state, localCheckpoint-pinned); the oracle is a DuckDB RECURSIVE
    CTE — two different traversal algorithms agreeing."""
    from tablite_spark.pipeline.graph import bfs_hops
    li = _t(spark, sf, "lineitem")
    # no .distinct(): bfs_hops' own und/nodes distincts dedupe —
    # an intermediate distinct would just add a 4th shuffle. The
    # pair frame is scanned by BOTH the seed derivation and the
    # traversal's und build, so pin it for the (eager) call
    with pinned(_co_order_pairs(li).select("src", "dst"),
                eager=False) as edges:
        nodes = (edges.select(F.col("src").alias("node"))
                 .unionByName(edges.select(F.col("dst").alias("node")))
                 .distinct())
        seeds = nodes.filter(F.col("node") % 13 == 0)
        out = bfs_hops(edges, seeds, "src", "dst", max_hops=3)
    return out.select(F.col("node").cast("long").alias("node"),
                      "hops")


ROUND14_ORACLES["bfs_hops_lineitem"] = """
    WITH RECURSIVE base AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), und AS (
        SELECT u AS a, v AS b FROM e
        UNION SELECT v, u FROM e
    ), seeds AS (
        SELECT DISTINCT a AS n FROM und WHERE a % 13 = 0
    ), r(node, hops) AS (
        SELECT n, 0 FROM seeds
        UNION
        SELECT und.b, r.hops + 1
        FROM r JOIN und ON und.a = r.node
        WHERE r.hops < 3
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(min(hops) AS BIGINT) AS hops
    FROM r GROUP BY 1
"""


# --------------------------------------------------------------------
# batch: KMV sketch Jaccard between event-type audiences
# --------------------------------------------------------------------

def kmv_jaccard_events(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise audience overlap between event types over USER-DAY
    entities, estimated from KMV sketches (``functions/sketches.py``:
    k smallest 60-bit md5 hashes per type, k-smallest computed on
    the SALTED top-k engine — the skew valve) with the exact Jaccard
    beside it — the sketch-accuracy audit for set-overlap questions
    a pipeline answers from sketches at corpus scale (audience
    overlap, day-over-day retention of distinct keys). Post-sketch
    relations are bounded at |types| x k rows; the |types|^2 pair
    frame is the documented 1-row-broadcast-class cross join. The
    oracle replays sketch construction, union ranking and both
    ratio boundaries verbatim."""
    from tablite_spark.functions.sketches import (kmv_estimate,
                                                  kmv_jaccard_pairs,
                                                  kmv_sketch)
    ev = _t(spark, sf, "events")
    ent = (ev.filter(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull())
           .select("event_type",
                   F.concat(F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.datediff(F.col("ts").cast("date"),
                                       F.lit("1970-01-01")
                                       .cast("date")).cast("string"))
                   .alias("entity")))
    sk = kmv_sketch(ent, "entity", "event_type")
    est = kmv_estimate(sk, "event_type")
    prs = kmv_jaccard_pairs(sk, "event_type")
    es = ent.distinct()
    sizes = (es.groupBy("event_type")
             .agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
    inter = (es.select(F.col("event_type").alias("ga"),
                       "entity")
             .join(es.select(F.col("event_type").alias("gb"),
                             "entity"), "entity")
             .filter(F.col("ga") < F.col("gb"))
             .groupBy("ga", "gb")
             .agg(F.count(F.lit(1)).cast("long")
                  .alias("n_exact_inter")))
    out = (prs
           .join(est.select(F.col("event_type").alias("ga"),
                            F.col("kmv_estimate").alias("kmv_est_a")),
                 "ga")
           .join(est.select(F.col("event_type").alias("gb"),
                            F.col("kmv_estimate").alias("kmv_est_b")),
                 "gb")
           .join(sizes.select(F.col("event_type").alias("ga"),
                              F.col("n_exact").alias("n_exact_a")),
                 "ga")
           .join(sizes.select(F.col("event_type").alias("gb"),
                              F.col("n_exact").alias("n_exact_b")),
                 "gb")
           .join(inter, ["ga", "gb"], "left")
           .withColumn("n_exact_inter",
                       F.coalesce("n_exact_inter", F.lit(0))
                       .cast("long")))
    return out.select(
        "ga", "gb", "n_union_sketch", "n_inter_sketch",
        "kmv_jaccard", "kmv_est_a", "kmv_est_b",
        "n_exact_a", "n_exact_b", "n_exact_inter",
        (F.round(F.col("n_exact_inter")
                 / (F.col("n_exact_a") + F.col("n_exact_b")
                    - F.col("n_exact_inter")), 6) + 0)
        .alias("exact_jaccard"))


def _kmv_oracle() -> str:
    from tablite_spark.functions.sketches import (KMV_K, _KMV_SPACE,
                                                  kmv_oracle_cte)
    ent = ("(CAST(user_id AS VARCHAR) || ':' || "
           "CAST(date_diff('day', DATE '1970-01-01', "
           "CAST(ts AS DATE)) AS VARCHAR))")
    cte = kmv_oracle_cte(
        ent, "(SELECT * FROM events WHERE user_id IS NOT NULL "
             "AND ts IS NOT NULL)", "event_type")
    numer = repr(float(KMV_K - 1) * _KMV_SPACE)
    return f"""
    WITH {cte},
    est AS (
        SELECT g, count(*) AS n_s, max(h) AS hk FROM kmv GROUP BY 1
    ), estv AS (
        SELECT g,
               ROUND(CASE WHEN n_s < {KMV_K}
                     THEN CAST(n_s AS DOUBLE)
                     ELSE {numer} / CAST(hk AS DOUBLE) END, 4) + 0
                   AS kmv_estimate
        FROM est
    ), prs AS (
        SELECT a.g AS ga, b.g AS gb
        FROM (SELECT DISTINCT g FROM kmv) a,
             (SELECT DISTINCT g FROM kmv) b
        WHERE a.g < b.g
    ), un AS (
        SELECT prs.ga, prs.gb, k.h,
               max(CASE WHEN k.g = prs.ga THEN 1 END) AS in_a,
               max(CASE WHEN k.g = prs.gb THEN 1 END) AS in_b
        FROM prs JOIN kmv k ON k.g IN (prs.ga, prs.gb)
        GROUP BY 1, 2, 3
    ), top AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY ga, gb
                                         ORDER BY h) AS rn
            FROM un
        ) WHERE rn <= {KMV_K}
    ), sk_j AS (
        SELECT ga, gb,
               CAST(count(*) AS BIGINT) AS n_union_sketch,
               CAST(sum(CASE WHEN in_a IS NOT NULL
                             AND in_b IS NOT NULL THEN 1
                        ELSE 0 END) AS BIGINT) AS n_inter_sketch
        FROM top GROUP BY 1, 2
    ), ent AS (
        SELECT DISTINCT event_type AS g,
               {ent} AS e
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), sizes AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_exact
        FROM ent GROUP BY 1
    ), xinter AS (
        SELECT a.g AS ga, b.g AS gb,
               CAST(count(*) AS BIGINT) AS n_exact_inter
        FROM ent a JOIN ent b ON a.e = b.e AND a.g < b.g
        GROUP BY 1, 2
    )
    SELECT s.ga, s.gb, s.n_union_sketch, s.n_inter_sketch,
           ROUND(s.n_inter_sketch / s.n_union_sketch, 6) + 0
               AS kmv_jaccard,
           ea.kmv_estimate AS kmv_est_a,
           eb.kmv_estimate AS kmv_est_b,
           sa.n_exact AS n_exact_a, sb.n_exact AS n_exact_b,
           CAST(COALESCE(x.n_exact_inter, 0) AS BIGINT)
               AS n_exact_inter,
           ROUND(COALESCE(x.n_exact_inter, 0)
                 / (sa.n_exact + sb.n_exact
                    - COALESCE(x.n_exact_inter, 0)), 6) + 0
               AS exact_jaccard
    FROM sk_j s
    JOIN estv ea ON ea.g = s.ga
    JOIN estv eb ON eb.g = s.gb
    JOIN sizes sa ON sa.g = s.ga
    JOIN sizes sb ON sb.g = s.gb
    LEFT JOIN xinter x ON x.ga = s.ga AND x.gb = s.gb
    """


ROUND14_ORACLES["kmv_jaccard_events"] = _kmv_oracle()


# --------------------------------------------------------------------
# batch: Bloom-prefiltered semi join
# --------------------------------------------------------------------

def bloom_semi_join_lineitem(spark: SparkSession,
                             sf: str) -> DataFrame:
    """Revenue by return flag over the line items of URGENT orders
    above $150k — the selective-dim semi join, executed through
    ``operators/bloomjoin.py:bloom_semi_join``: the order-key subset
    builds a broadcast Bloom bitmap and the lineitem probe side
    drops map-side BEFORE the exact confirm join, so the shuffle
    sees ~the matching sliver instead of the corpus (false
    negatives impossible; false positives removed by the confirm
    join). The oracle is the PLAIN semi join — one Bloom-induced
    row loss or phantom mismatches the census."""
    from tablite_spark.operators.bloomjoin import bloom_semi_join
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    sel = o.filter((F.col("o_orderpriority") == "1-URGENT")
                   & (F.col("o_totalprice") > 150000))
    hit = bloom_semi_join(li, sel, "l_orderkey", "o_orderkey")
    return (hit.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
                 F.sum(F.round(F.col("l_extendedprice") * 100, 0))
                 .cast("long").alias("revenue_cents")))


ROUND14_ORACLES["bloom_semi_join_lineitem"] = """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(round(l_extendedprice * 100, 0)) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND o_totalprice > 150000)
    GROUP BY 1
"""


# --------------------------------------------------------------------
# batch: degree assortativity of the co-order graph
# --------------------------------------------------------------------

def assortativity_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson degree assortativity of the capped part co-order
    graph (the triangle-count graph): do high-degree parts co-order
    with high-degree parts? Sums accumulate over BOTH edge
    orientations as exact BIGINTs (Σd, Σd², Σd_u d_v — the Pearson
    operands), the ratio divides once at the boundary; a regular
    graph (zero variance) ships NULL on both engines. Degree census
    + two keyed joins — combinable end to end, no windows."""
    li = _t(spark, sf, "lineitem")
    # r14 optimization round (guide §2.1, §3.1 — the triangle_count
    # pattern): the edge frame feeds the degree census AND both join
    # sides, and deg feeds three references — unpinned, the whole
    # co-order pipeline replayed 16x in the physical plan. Pin each
    # once; the count (needed for broadcast sizing anyway) drives a
    # count-driven broadcast of the node-bounded degree census so the
    # edge frame is never shuffled (shuffle-join fallback past the
    # budget — the 100 TB-safe path).
    edges = pin(_co_order_pairs(li).select("src", "dst").distinct(),
                eager=False)
    n_edges = edges.count()
    und = (edges.select(F.col("src").alias("a"),
                        F.col("dst").alias("b"))
           .unionByName(edges.select(F.col("dst").alias("a"),
                                     F.col("src").alias("b"))))
    deg = pin(und.groupBy(F.col("a").alias("n"))
              .agg(F.count(F.lit(1)).cast("long").alias("d")),
              eager=False)
    j = (und.join(maybe_broadcast(
             deg.select(F.col("n").alias("a"),
                        F.col("d").alias("da")), 2 * n_edges, 24),
             "a")
         .join(maybe_broadcast(
             deg.select(F.col("n").alias("b"),
                        F.col("d").alias("db")), 2 * n_edges, 24),
             "b"))
    agg = j.agg(F.count(F.lit(1)).cast("long").alias("m"),
                F.sum(F.col("da") * F.col("db")).cast("long")
                .alias("sxy"),
                F.sum("da").cast("long").alias("sx"),
                F.sum(F.col("da") * F.col("da")).cast("long")
                .alias("sxx"))
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                 F.max("d").cast("long").alias("max_deg"))
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (agg.crossJoin(F.broadcast(nn))
            .select("n_nodes",
                    (F.col("m") / 2).cast("long").alias("n_edges"),
                    "max_deg",
                    (F.round(F.when(den != 0, num / den), 6) + 0)
                    .alias("assortativity")))


ROUND14_ORACLES["assortativity_lineitem"] = """
    WITH base AS (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), und AS (
        SELECT u AS a, v AS b FROM e
        UNION ALL SELECT v, u FROM e
    ), deg AS (
        SELECT a AS n, CAST(count(*) AS BIGINT) AS d
        FROM und GROUP BY 1
    ), j AS (
        SELECT da.d AS da, db.d AS db
        FROM und JOIN deg da ON da.n = und.a
                 JOIN deg db ON db.n = und.b
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(da * db) AS BIGINT) AS sxy,
               CAST(sum(da) AS BIGINT) AS sx,
               CAST(sum(da * da) AS BIGINT) AS sxx
        FROM j
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m / 2 AS BIGINT) AS n_edges,
           (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_deg,
           ROUND(CASE WHEN (m * sxx - sx * sx) != 0
                 THEN (m * sxy - sx * sx)
                      / CAST(m * sxx - sx * sx AS DOUBLE) END,
                 6) + 0 AS assortativity
    FROM agg
"""


# --------------------------------------------------------------------
# batch: k-core decomposition of the co-order graph
# --------------------------------------------------------------------

def kcore_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """The 30-core of the capped part co-order graph — parts whose
    co-order relationships survive when weakly-connected neighbors
    unravel (``pipeline/graph.py:k_core``: simultaneous peeling to
    the unique fixpoint, two semi joins + one combinable groupBy per
    round, localCheckpoint-pinned). Peeling takes 3-5 rounds at the
    three SFs with ~3-16% of nodes removed — a REAL cascade, not a
    no-op filter (k was chosen against the degree census; k >= 35
    unravels the whole graph). The oracle unrolls 10 simultaneous
    peel rounds as chained CTEs — past the measured fixpoint, so
    both engines land on the same core with the same in-core
    degrees."""
    from tablite_spark.pipeline.graph import k_core
    li = _t(spark, sf, "lineitem")
    # no .distinct(): k_core's und distinct dedupes (see bfs note)
    edges = _co_order_pairs(li).select("src", "dst")
    out = k_core(edges, "src", "dst", k=30)
    return out.select(F.col("node").cast("long").alias("node"),
                      "core_degree")


def _kcore_oracle(k: int = 30, rounds: int = 10) -> str:
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    # peel round references its predecessor TWICE — inlining makes
    # the 10-round chain a 2^10 expansion of the base scan (measured:
    # the un-materialized form never finished at sf0.001; with
    # MATERIALIZED it runs in 0.6 s)
    parts = ["""
    WITH base AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS MATERIALIZED (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS MATERIALIZED (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS MATERIALIZED (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), und AS MATERIALIZED (
        SELECT u AS a, v AS b FROM e
        UNION ALL SELECT v, u FROM e
    ), a0 AS MATERIALIZED (
        SELECT DISTINCT a AS n FROM und
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f""", d{r} AS MATERIALIZED (
        SELECT und.a AS n, count(*) AS d
        FROM und JOIN a{r - 1} x ON und.a = x.n
                 JOIN a{r - 1} y ON und.b = y.n
        GROUP BY 1
    ), a{r} AS MATERIALIZED (
        SELECT n FROM d{r} WHERE d >= {k}
    )""")
    parts.append(f"""
    SELECT CAST(n AS BIGINT) AS node, CAST(d AS BIGINT)
               AS core_degree
    FROM d{rounds} WHERE d >= {k}
    """)
    return "".join(parts)


ROUND14_ORACLES["kcore_lineitem"] = _kcore_oracle()


# --------------------------------------------------------------------
# batch: grid-DBSCAN over the customer lattice
# --------------------------------------------------------------------

def dbscan_customers(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN density clustering of customers on the deterministic
    md5 lattice (``pipeline/clustering.py:dbscan_grid`` — the
    cell-bucketed neighbor join + hash-min connected components over
    core points; border points take the MIN neighboring core
    cluster, the deterministic resolution of textbook DBSCAN's
    first-found ambiguity). The lattice side scales as
    floor(sqrt(n)·4000) so point DENSITY is SF-invariant: eps=2200 /
    min_pts=3 sits below the continuum-percolation threshold, which
    keeps every SF's role census non-trivial (48/18/84 core/border/
    noise at sf0.001, 3745/1782/9473 at sf0.1) and clusters small.
    The oracle replays neighbors via the all-pairs CROSS join (a
    different algorithm) and the components via a recursive CTE."""
    from tablite_spark.pipeline.clustering import dbscan_grid
    c = _t(spark, sf, "customer")
    ln = c.agg(F.floor(F.sqrt(F.count(F.lit(1))) * 4000)
               .cast("long").alias("__L__"))

    def ax(salt: str):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(salt),
                           F.col("c_custkey").cast("string"))), 1, 8),
            16, 10).cast("long") % F.col("__L__"))

    pts = (c.crossJoin(F.broadcast(ln))
           .select(F.col("c_custkey").alias("custkey"),
                   ax("gx").alias("x"), ax("gy").alias("y")))
    out = dbscan_grid(pts, "custkey", "x", "y",
                      eps=2200, min_pts=3)
    return out.select("custkey", "role",
                      F.col("cluster").cast("long").alias("cluster"))


ROUND14_ORACLES["dbscan_customers"] = """
    WITH RECURSIVE lsz AS (
        SELECT CAST(FLOOR(SQRT(count(*)) * 4000) AS BIGINT) AS L
        FROM customer
    ), p AS (
        SELECT c_custkey AS pid,
               CAST(CAST(('0x' || substring(md5('gx' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % L AS BIGINT) AS x,
               CAST(CAST(('0x' || substring(md5('gy' ||
                   CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                   % L AS BIGINT) AS y
        FROM customer, lsz
    ), nb AS (
        SELECT a.pid AS pa, b.pid AS pb
        FROM p a, p b
        WHERE (a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) <= 2200 * 2200
    ), cnt AS (
        SELECT pa, count(*) AS n FROM nb GROUP BY 1
    ), cores AS (
        SELECT pa AS pid FROM cnt WHERE n >= 3
    ), ce AS (
        SELECT nb.pa AS a, nb.pb AS b
        FROM nb JOIN cores c1 ON nb.pa = c1.pid
                JOIN cores c2 ON nb.pb = c2.pid
        WHERE nb.pa != nb.pb
    ), reach(id, label) AS (
        SELECT pid, pid FROM cores
        UNION
        SELECT ce.b, r.label FROM reach r JOIN ce ON ce.a = r.id
    ), comp AS (
        SELECT id, CAST(min(label) AS BIGINT) AS cluster
        FROM reach GROUP BY 1
    ), border AS (
        SELECT nb.pa AS pid, CAST(min(comp.cluster) AS BIGINT)
                   AS cluster
        FROM nb JOIN cores c2 ON nb.pb = c2.pid
                JOIN comp ON comp.id = nb.pb
        WHERE nb.pa NOT IN (SELECT pid FROM cores)
        GROUP BY 1
    )
    SELECT p.pid AS custkey,
           CASE WHEN comp.cluster IS NOT NULL THEN 'core'
                WHEN border.cluster IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(comp.cluster, border.cluster) AS cluster
    FROM p
    LEFT JOIN comp ON comp.id = p.pid
    LEFT JOIN border ON border.pid = p.pid
"""


# --------------------------------------------------------------------
# batch: Count-Min sketch frequency audit over document tokens
# --------------------------------------------------------------------

def cms_tokens_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch frequency estimates for the corpus's top-20
    tokens, with exact counts beside them — the counting member of
    the sketch trio (HLL distinct / KMV overlap / CMS frequency)
    and its accuracy audit. The sketch is ONE combinable groupBy
    bounded at d*w = 4096 cells regardless of corpus size
    (``functions/sketches.py:cms_census``); estimates = min over the
    d addressed cells, NEVER below the exact count (the CMS
    one-sided guarantee — ``overshoot`` is the audit column). The
    top-20 probe set comes from the exact census via Spark's
    distributed TakeOrderedAndProject (sort-free top-k). Cells and
    all outputs are exact integers — the oracle replays them
    bit-for-bit."""
    from tablite_spark.functions.sketches import (cms_census,
                                                  cms_point_estimates)
    d = _t(spark, sf, "documents")
    # spread the single-row-group source so the regex-split token
    # explode (run twice: exact census + sketch census, both
    # combinable groupBys — partition-invariant exact integers)
    # fills all cores; no-op at corpus scale (r14 optimization round)
    if d.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = (d.select(F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .alias("tok"))
        .filter(F.col("tok") != ""))
    exact = (toks.groupBy("tok")
             .agg(F.count(F.lit(1)).cast("long").alias("exact_n")))
    top = exact.orderBy(F.col("exact_n").desc(),
                        F.col("tok").asc()).limit(20)
    cms = cms_census(toks, "tok")
    est = cms_point_estimates(cms, top, "tok")
    return (top.join(est, "tok")
            .select("tok", "exact_n", "cms_est",
                    (F.col("cms_est") - F.col("exact_n"))
                    .cast("long").alias("overshoot")))


def _cms_oracle() -> str:
    from tablite_spark.functions.sketches import (CMS_D, CMS_W,
                                                  cms_oracle_cells)
    cells = cms_oracle_cells("tok", "toks2")
    return f"""
    WITH toks AS (
        SELECT UNNEST(string_split_regex(
            LOWER(TRIM(text)), '\\s+')) AS tok
        FROM documents
    ), toks2 AS (
        SELECT tok FROM toks WHERE tok <> ''
    ), exact AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS exact_n
        FROM toks2 GROUP BY 1
    ), top AS (
        SELECT tok, exact_n FROM exact
        ORDER BY exact_n DESC, tok LIMIT 20
    ), {cells},
    probes AS (
        SELECT top.tok, r.i AS row,
               CAST(CAST(('0x' || substring(md5(
                   CAST(r.i AS VARCHAR) || ':' || top.tok), 1, 15))
                   AS UBIGINT) % {CMS_W} AS INT) AS col
        FROM top, (SELECT UNNEST(range({CMS_D})) AS i) r
    ), est AS (
        SELECT probes.tok,
               CAST(min(COALESCE(cms.cnt, 0)) AS BIGINT) AS cms_est
        FROM probes LEFT JOIN cms USING (row, col)
        GROUP BY 1
    )
    SELECT top.tok, top.exact_n, est.cms_est,
           CAST(est.cms_est - top.exact_n AS BIGINT) AS overshoot
    FROM top JOIN est USING (tok)
    """


ROUND14_ORACLES["cms_tokens_docs"] = _cms_oracle()


# --------------------------------------------------------------------
# batch: HyperBall neighborhood function of the co-order graph
# --------------------------------------------------------------------

def hyperball_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate neighborhood function N(h) of the capped part
    co-order graph for h = 0..3 — "how many (node, node) pairs lie
    within h hops" — via ``pipeline/graph.py:hyperball``: per-node
    HLL ball sketches (m=64) whose register maxes DO the traversal
    (one edges ⋈ state join + one combinable max-groupBy per round;
    state <= 64 rows/node however big the ball gets — the reason
    HyperBall scales where exact all-pairs BFS is quadratic).
    Per-node estimates quantize to integer micro-units BEFORE the
    sum, so nf_micro is an exact BIGINT on any partitioning and the
    oracle replays every round's registers verbatim. The 4-row
    result assembles on the driver from per-round scalar aggregates
    (the heavy work is distributed; the collect is 4 integers)."""
    from tablite_spark.pipeline.graph import hyperball
    li = _t(spark, sf, "lineitem")
    # no .distinct(): hyperball's und distinct dedupes (see bfs note)
    edges = _co_order_pairs(li).select("src", "dst")
    nf = hyperball(edges, "src", "dst", max_h=3)
    return spark.createDataFrame(
        [(int(h), int(v)) for h, v in nf], "h long, nf_micro long")


def _hyperball_oracle(max_h: int = 3, b: int = 6) -> str:
    m = 1 << b
    rho_bits = 60 - b
    w_mask = (1 << rho_bits) - 1
    rho_max = rho_bits + 1
    q = 1 << rho_max
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1.0 + 1.079 / m))
    numer = repr(alpha * m * m * float(q))

    def est_cte(hh: int) -> str:
        return f""", agg{hh} AS MATERIALIZED (
        SELECT node, count(*) AS np,
               sum(1::BIGINT << ({rho_max} - rho)) AS s
        FROM s{hh} GROUP BY 1
    ), nf{hh} AS MATERIALIZED (
        SELECT CAST(sum(CAST(ROUND(
            CASE WHEN ({numer} / CAST(({m} - np) * {q} + s
                                      AS DOUBLE)) <= {2.5 * m!r}
                      AND ({m} - np) > 0
                 THEN {m} * ln({m} / CAST({m} - np AS DOUBLE))
                 ELSE {numer} / CAST(({m} - np) * {q} + s AS DOUBLE)
            END * 1e6, 0) AS BIGINT)) AS BIGINT) AS nf
        FROM agg{hh}
    )"""

    parts = [f"""
    WITH base AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS MATERIALIZED (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS MATERIALIZED (
        SELECT base.* FROM base JOIN small USING (bk)
    ), e AS MATERIALIZED (
        SELECT DISTINCT l.it AS u, r.it AS v
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
    ), und AS MATERIALIZED (
        SELECT u AS a, v AS b FROM e
        UNION ALL SELECT v, u FROM e
    ), h0 AS MATERIALIZED (
        SELECT DISTINCT a AS node,
               CAST(CAST(('0x' || substring(
                   md5(CAST(a AS VARCHAR)), 1, 15))
                   AS UBIGINT) AS BIGINT) AS hv
        FROM und
    ), s0 AS MATERIALIZED (
        SELECT node,
               CAST(hv >> {rho_bits} AS INT) AS register,
               CAST(CASE WHEN (hv & {w_mask}) = 0 THEN {rho_max}
                    ELSE {rho_max} - length(bin(hv & {w_mask}))
                    END AS INT) AS rho
        FROM h0
    )"""]
    parts.append(est_cte(0))
    for hh in range(1, max_h + 1):
        parts.append(f""", s{hh} AS MATERIALIZED (
        SELECT node, register, max(rho) AS rho FROM (
            SELECT und.a AS node, s.register, s.rho
            FROM und JOIN s{hh - 1} s ON s.node = und.b
            UNION ALL
            SELECT node, register, rho FROM s{hh - 1}
        ) GROUP BY 1, 2
    )""")
        parts.append(est_cte(hh))
    selects = " UNION ALL ".join(
        f"SELECT CAST({hh} AS BIGINT) AS h, nf AS nf_micro "
        f"FROM nf{hh}" for hh in range(max_h + 1))
    parts.append("\n    " + selects)
    return "".join(parts)


ROUND14_ORACLES["hyperball_lineitem"] = _hyperball_oracle()


# --------------------------------------------------------------------
# batch: time-respecting reachability over dated co-order edges
# --------------------------------------------------------------------

def temporal_reach_lineitem(spark: SparkSession,
                            sf: str) -> DataFrame:
    """Earliest time-respecting arrival from the seed parts through
    DATED co-order edges (edge timestamp = the order's date;
    transmission only along non-decreasing dates) within 3 hops —
    the supply-chain/contagion question plain reachability answers
    WRONG: at sf0.01, 771 of 2,000 parts have a LATER temporal
    arrival than the date-blind relaxation would claim (the
    constraint genuinely binds; checked at authoring time). Runs on
    ``pipeline/graph.py:temporal_bfs`` (simultaneous full
    relaxations + min-merge, checkpoint-pinned); arrivals are exact
    epoch days end to end, cast to timestamp at the boundary. The
    oracle replays the 3 relaxation rounds as chained MATERIALIZED
    CTEs."""
    from tablite_spark.pipeline.graph import temporal_bfs
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    dated = (_co_order_pairs(li)
             .join(o.select(F.col("o_orderkey").alias("bk"),
                            F.datediff(F.col("o_orderdate")
                                       .cast("date"),
                                       F.lit("1970-01-01")
                                       .cast("date"))
                            .cast("long").alias("d")), "bk")
             .select(F.col("src").alias("u"),
                     F.col("dst").alias("v"), "d").distinct())
    # pinned: scanned by seeds AND the relax rounds
    with pinned(dated, eager=False) as dated:
        und = (dated.select(F.col("u").alias("src"),
                            F.col("v").alias("dst"), "d")
               .unionByName(dated.select(F.col("v").alias("src"),
                                         F.col("u").alias("dst"),
                                         "d")))
        seeds = (und.filter(F.col("src") % 13 == 0)
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.min("d").alias("t0")))
        # temporal_bfs is eager (checkpoint-pinned rounds), so the
        # pin can release as soon as it returns
        out = temporal_bfs(und, seeds, "src", "dst", "d",
                           max_hops=3)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.expr("cast(date_add(DATE '1970-01-01', "
               "cast(arrival as int)) as timestamp)")
        .alias("arrival"))


ROUND14_ORACLES["temporal_reach_lineitem"] = """
    WITH base AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), small AS MATERIALIZED (
        SELECT bk FROM base GROUP BY 1 HAVING count(*) <= 5
    ), capped AS MATERIALIZED (
        SELECT base.* FROM base JOIN small USING (bk)
    ), de AS MATERIALIZED (
        SELECT DISTINCT l.it AS u, r.it AS v,
               date_diff('day', DATE '1970-01-01',
                         CAST(o.o_orderdate AS DATE)) AS d
        FROM capped l JOIN capped r
          ON l.bk = r.bk AND l.it < r.it
        JOIN orders o ON o.o_orderkey = l.bk
    ), und AS MATERIALIZED (
        SELECT u AS a, v AS b, d FROM de
        UNION ALL SELECT v, u, d FROM de
    ), seeds AS MATERIALIZED (
        SELECT a AS node, min(d) AS arrival
        FROM und WHERE a % 13 = 0 GROUP BY 1
    ), s1 AS MATERIALIZED (
        SELECT node, min(arrival) AS arrival FROM (
            SELECT * FROM seeds
            UNION ALL
            SELECT und.b, und.d FROM und
            JOIN seeds s ON und.a = s.node AND und.d >= s.arrival
        ) GROUP BY 1
    ), s2 AS MATERIALIZED (
        SELECT node, min(arrival) AS arrival FROM (
            SELECT * FROM s1
            UNION ALL
            SELECT und.b, und.d FROM und
            JOIN s1 s ON und.a = s.node AND und.d >= s.arrival
        ) GROUP BY 1
    ), s3 AS MATERIALIZED (
        SELECT node, min(arrival) AS arrival FROM (
            SELECT * FROM s2
            UNION ALL
            SELECT und.b, und.d FROM und
            JOIN s2 s ON und.a = s.node AND und.d >= s.arrival
        ) GROUP BY 1
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(DATE '1970-01-01' + CAST(arrival AS INTEGER)
                AS TIMESTAMP) AS arrival
    FROM s3
"""


# --------------------------------------------------------------------
# batch: personalized PageRank from a trusted seed set
# --------------------------------------------------------------------

def ppr_lineitem(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank over the supplier→part multigraph
    (``pipeline/graph.py:personalized_pagerank``): teleport and
    dangling mass restart to the SEED suppliers (suppkey % 10 == 0)
    instead of all nodes — "centrality from the point of view of
    the vetted set", the curation form of the quality prior. Same
    integer micro-unit discipline as ``pagerank_lineitem`` (every
    floor an identical IEEE op), so the oracle replays all 3
    iterations as unrolled CTEs; parts only reachable from non-seed
    suppliers hold rank 0, which is the semantic point."""
    from tablite_spark.pipeline.graph import personalized_pagerank
    li = _t(spark, sf, "lineitem")
    edges = li.select(F.col("l_suppkey").cast("long").alias("src"),
                      (F.col("l_partkey") + 1_000_000).cast("long")
                      .alias("dst"))
    seeds = (edges.select(F.col("src").alias("node")).distinct()
             .filter(F.col("node") % 10 == 0))
    out = personalized_pagerank(edges, seeds, "src", "dst", iters=3)
    return out.select(F.col("node").cast("long").alias("node"),
                      F.col("rank").cast("long").alias("rank"))


def _ppr_oracle_sql(iters: int = 3, damping: float = 0.85,
                    unit: int = 10 ** 12) -> str:
    """Unrolled-CTE replay of ppr_lineitem — mirrors
    personalized_pagerank exactly: floor(unit/|S|) seed init,
    teleport + dangling mass to seeds only, identical left-assoc
    float expressions. MATERIALIZED (the kcore inlining lesson)."""
    u = f"{float(unit):.1f}"
    parts = ["""e AS MATERIALIZED (SELECT l_suppkey AS src,
                1000000 + l_partkey AS dst FROM lineitem)""",
             """nodes0 AS MATERIALIZED (SELECT DISTINCT node FROM
                (SELECT src AS node FROM e
                 UNION ALL SELECT dst FROM e))""",
             """odeg AS MATERIALIZED (SELECT src AS node,
                COUNT(*) AS outdeg FROM e GROUP BY src)""",
             """nodes AS MATERIALIZED (SELECT n.node,
                COALESCE(o.outdeg, 0) AS outdeg,
                CASE WHEN n.node % 10 = 0 AND n.node < 1000000
                     THEN 1 ELSE 0 END AS is_seed
                FROM nodes0 n LEFT JOIN odeg o ON n.node = o.node)""",
             """ns AS (SELECT COUNT(*) AS n FROM nodes
                WHERE is_seed = 1)""",
             f"""r0 AS MATERIALIZED (SELECT node, outdeg, is_seed,
                CASE WHEN is_seed = 1
                     THEN CAST(floor({u} / ns.n) AS BIGINT)
                     ELSE 0 END AS rank
                FROM nodes, ns)"""]
    for it in range(iters):
        parts.append(f"""d{it} AS (SELECT COALESCE(SUM(rank), 0) AS s
                FROM r{it} WHERE outdeg = 0)""")
        parts.append(f"""c{it} AS MATERIALIZED (
                SELECT e.dst AS node,
                SUM(CAST(floor(CAST(r.rank AS DOUBLE) / r.outdeg)
                         AS BIGINT)) AS s
                FROM e JOIN r{it} r ON e.src = r.node
                WHERE r.outdeg > 0 GROUP BY e.dst)""")
        parts.append(f"""r{it + 1} AS MATERIALIZED (
                SELECT n.node, n.outdeg, n.is_seed,
                CASE WHEN n.is_seed = 1
                     THEN CAST(floor((1.0 - {damping}) * {u} / ns.n)
                               AS BIGINT)
                          + CAST(floor({damping} * d{it}.s / ns.n)
                                 AS BIGINT)
                     ELSE 0 END
                + CAST(floor({damping} * CAST(COALESCE(c.s, 0)
                                              AS DOUBLE)) AS BIGINT)
                    AS rank
                FROM nodes n LEFT JOIN c{it} c ON n.node = c.node,
                     ns, d{it})""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT CAST(node AS BIGINT) AS node, "
              f"CAST(rank AS BIGINT) AS rank FROM r{iters}")


ROUND14_ORACLES["ppr_lineitem"] = _ppr_oracle_sql()


# --------------------------------------------------------------------
# batch: script-class mixture census (multilingual curation signal)
# --------------------------------------------------------------------

def script_mix_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language codepoint-class census over the corpus — the
    multilingual curation signal ("is this 'en' shard actually
    latin text?"): latin letters, digits, whitespace and other,
    counted with EXPLICIT character classes on both engines (the
    tokenizer_fertility discipline — named classes like \\s and
    POSIX classes diverge between JVM regex and RE2, spelled-out
    ranges do not). The four classes partition every codepoint, so
    chars_total is also an integrity check. One combinable groupBy;
    all counts exact BIGINT, one ratio rounds at the boundary."""
    d = _t(spark, sf, "documents")

    def nclass(cls: str):
        return F.length(F.regexp_replace(
            F.col("text"), f"[^{cls}]", ""))

    ws = " \\t\\n\\x0B\\f\\r"
    per = d.filter(F.col("text").isNotNull()).select(
        "lang",
        F.length("text").alias("n"),
        nclass("A-Za-z").alias("lat"),
        nclass("0-9").alias("dig"),
        nclass(ws).alias("wsp"))
    return (per.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("n").cast("long").alias("chars_total"),
                 F.sum("lat").cast("long").alias("chars_latin"),
                 F.sum("dig").cast("long").alias("chars_digit"),
                 F.sum("wsp").cast("long").alias("chars_ws"))
            .withColumn("chars_other",
                        (F.col("chars_total") - F.col("chars_latin")
                         - F.col("chars_digit") - F.col("chars_ws"))
                        .cast("long"))
            .withColumn("latin_frac",
                        F.round(F.col("chars_latin")
                                / F.col("chars_total"), 6) + 0))


ROUND14_ORACLES["script_mix_docs"] = """
    WITH per AS (
        SELECT lang, length(text) AS n,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS lat,
               length(regexp_replace(text, '[^0-9]', '', 'g'))
                   AS dig,
               length(regexp_replace(text,
                   '[^ ' || chr(9) || chr(10) || chr(11) || chr(12)
                   || chr(13) || ']', '', 'g')) AS wsp
        FROM documents WHERE text IS NOT NULL
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS chars_total,
           CAST(sum(lat) AS BIGINT) AS chars_latin,
           CAST(sum(dig) AS BIGINT) AS chars_digit,
           CAST(sum(wsp) AS BIGINT) AS chars_ws,
           CAST(sum(n) - sum(lat) - sum(dig) - sum(wsp) AS BIGINT)
               AS chars_other,
           ROUND(sum(lat) / CAST(sum(n) AS DOUBLE), 6) + 0
               AS latin_frac
    FROM per GROUP BY 1
"""


# --------------------------------------------------------------------
# batch: Theil-Sen robust slope (median of pairwise slopes)
# --------------------------------------------------------------------

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


ROUND14_ORACLES["theil_sen_orders"] = """
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


# --------------------------------------------------------------------
# streaming: stream-static enrichment join (the canonical shape)
# --------------------------------------------------------------------

def stream_static_join_events(spark: SparkSession,
                              sf: str) -> DataFrame:
    """The canonical streaming ENRICHMENT shape — a real readStream
    of events stateless-joined per micro-batch against a STATIC
    dimension (nation, keyed by user_id % |nation|), aggregated
    after the drain: revenue-weighted event census per nation name.
    Stream-static joins hold NO state (each micro-batch broadcast-
    joins the dim — at 100 TB/day this is the shape that replaces a
    nightly batch enrich); the two-batch split proves the join runs
    per-batch, and the oracle is the plain batch join + census."""
    n = _t(spark, sf, "nation")
    dim = n.select(F.col("n_nationkey").cast("long").alias("nk"),
                   F.col("n_name").alias("nation"))
    nn = dim.count()
    ev = (_t(spark, sf, "events")
          .filter(F.col("ts").isNotNull()
                  & F.col("user_id").isNotNull())
          .select("event_id",
                  F.col("ts").cast("timestamp").alias("ts"),
                  "user_id", "event_type", "value"))
    us = F.unix_micros(F.col("ts"))
    cut = ev.agg(F.percentile(us, F.lit(0.5))
                 .alias("m")).collect()[0]["m"]
    root = tempfile.mkdtemp(prefix="stream_static_")
    src = _stage_batches(root, "src", [
        ev.filter(us <= F.lit(int(cut))),
        ev.filter(us > F.lit(int(cut))),
    ])
    stream = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double")
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    enriched = (stream
                .withColumn("nk", F.col("user_id") % F.lit(nn))
                .join(F.broadcast(dim), "nk")
                .select("event_id", "nation", "event_type",
                        F.round(F.col("value") * 100, 0)
                        .cast("long").alias("vc")))
    with stream_shuffle_partitions(spark, src):
        q = (enriched.writeStream.format("parquet")
             .option("path", f"{root}/out")
             .option("checkpointLocation", f"{root}/ckpt")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.read.parquet(f"{root}/out")
            .groupBy("nation", "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum("vc").cast("long").alias("value_cents")))


ROUND14_ORACLES["stream_static_join_events"] = """
    SELECT n.n_name AS nation, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT))
                AS BIGINT) AS value_cents
    FROM events e
    JOIN nation n
      ON n.n_nationkey = e.user_id % (SELECT count(*) FROM nation)
    WHERE e.ts IS NOT NULL AND e.user_id IS NOT NULL
    GROUP BY 1, 2
"""
