"""Streaming queries, each driven through a REAL StreamingQuery and
oracled by the batch DuckDB form of the same computation. Every one
runs on the harness in :mod:`tablite_spark.streaming.fixtures`:
``median_split`` cuts the input into ordered micro-batches (plus
watermark-flush sentinels where state must finalize) and
``drain_stream`` stages them, streams them one file per trigger,
drains the query and reads the output back. A body holds only its
input shaping, its operator call and its result projection.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import scratch
from tablite_spark.registry._base import _t
from tablite_spark.registry.pipeline_scale import _dup_fixture
from tablite_spark.streaming.fixtures import drain_stream, median_split

ORACLES: dict[str, str] = {}


def stream_incremental_dedup_docs(spark: SparkSession,
                                  sf: str) -> DataFrame:
    """The STREAMING ingestion-loop dedup entry point itself
    (streaming.ops.stream_incremental_dedup), driver-oracled: a real
    file-source stream drains with availableNow through foreachBatch,
    one file per micro-batch in pinned mtime order. Derived-invariant
    fixture across TWO batches:

    - seed index = the pairwise-token-disjoint _dup_fixture corpus;
    - batch 1: (A, +20M) exact dups of corpus docs where id%5==0 →
      dropped by the corpus probe; (B, +30M) fresh docs in a disjoint
      'ntok' namespace → kept; (C, +40M) in-batch dups of B where
      id%6==0 → dropped, min id wins;
    - batch 2: (D, +50M) exact dups of BATCH 1's survivors where
      id%7==0 — droppable ONLY because batch 1's accepted signatures
      were appended to the durable index between micro-batches (the
      cross-batch property that distinguishes the streaming loop from
      its batch twin); (E, +60M) fresh 'mtok' docs → kept.

    Survivors are provably B ∪ E = every doc_id +30M and +60M, which
    DuckDB reproduces arithmetically. Exactly-once shape: survivors
    land in per-batch hive partitions (idempotent overwrite)."""
    from tablite_spark.pipeline.dedup import (
        minhash_save_index, shingle_minhash,
    )
    from tablite_spark.streaming.ops import stream_incremental_dedup

    corpus = _dup_fixture(spark, sf).filter(F.col("doc_id") < 10_000_000)
    idx = scratch("sid_") + "/index"
    minhash_save_index(shingle_minhash(corpus, "text", "doc_id"),
                       "doc_id", idx)

    base_ids = _t(spark, sf, "documents").select("doc_id")

    def ns_text(prefix: str):
        return F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(30)),
            lambda j: F.concat(F.lit(prefix),
                               (F.col("doc_id") * 1000 + j)
                               .cast("string"))))

    def shifted(df, text_col, shift):
        return (df.select("doc_id", text_col.alias("text"))
                .select((F.col("doc_id") + shift).alias("doc_id"),
                        "text"))

    a = shifted(base_ids.filter(F.col("doc_id") % 5 == 0),
                ns_text("tok"), 20_000_000)
    b = shifted(base_ids, ns_text("ntok"), 30_000_000)
    c = shifted(base_ids.filter(F.col("doc_id") % 6 == 0),
                ns_text("ntok"), 40_000_000)
    d = shifted(base_ids.filter(F.col("doc_id") % 7 == 0),
                ns_text("ntok"), 50_000_000)
    e = shifted(base_ids, ns_text("mtok"), 60_000_000)
    batch1 = a.unionByName(b).unionByName(c)
    batch2 = d.unionByName(e)

    out = drain_stream(
        spark, "sid_stream_", [[batch1, batch2]],
        sink=lambda s, path, ckpt: stream_incremental_dedup(
            s, "text", "doc_id", idx, out_path=path, checkpoint=ckpt,
            threshold=0.8))
    return out.select("doc_id")


ORACLES["stream_incremental_dedup_docs"] = """
    -- survivors of the two-micro-batch streaming dedup loop:
    -- batch1's fresh 'ntok' docs (+30M) and batch2's fresh
    -- 'mtok' docs (+60M); corpus dups, in-batch dups, and
    -- batch2's dups-of-batch1-survivors all drop (the last
    -- only because the index append ran between batches)
    SELECT doc_id + 30000000 AS doc_id FROM documents
    UNION ALL
    SELECT doc_id + 60000000 AS doc_id FROM documents
"""


def stream_attribution_events(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming twin of attribution_events, driver-oracled with a
    REAL StreamingQuery: the events table splits at its median
    timestamp into two mtime-pinned micro-batches (a global time
    split preserves each user's order across batches — the
    sequential-algebra ingestion contract), drains with availableNow
    through applyInPandasWithState, and the per-user last-touch
    carry CROSSES the batch boundary. Emits row-level attributed
    conversions (event_id, channel, value) — the batch window
    formula reproduces them exactly, which is the oracle."""
    from tablite_spark.streaming.ops import streaming_attribution
    ev = _t(spark, sf, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    # ts is TIMESTAMP_NTZ: the split key casts it to TIMESTAMP (UTC
    # session — the reinterpretation is monotone, the rolling_agg rule)
    out = drain_stream(spark, "attr_stream_", median_split(ev),
                       streaming_attribution)
    return out.select("event_id", "channel",
                      F.round(F.col("value"), 4).alias("value"))


ORACLES["stream_attribution_events"] = """
    WITH c AS (
        SELECT event_id, event_type AS t, value AS v,
               last_value(CASE WHEN event_type IN
                   ('view', 'click', 'signup')
                   THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING) AS channel
        FROM events
    )
    SELECT event_id, channel, ROUND(v, 4) + 0 AS value
    FROM c WHERE t = 'purchase'
"""


def stream_zscore_events(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming online z-score anomaly scoring, driver-oracled with
    a REAL StreamingQuery: the events table splits at its median
    timestamp into two mtime-pinned micro-batches, drains with
    availableNow through applyInPandasWithState, and each event's
    Welford (n, mean, M2) prior CROSSES the batch boundary — the
    expanding-frame window formula in DuckDB reproduces every score,
    which is the oracle."""
    from tablite_spark.streaming.ops import streaming_zscore
    ev = _t(spark, sf, "events").select(
        "event_id", "ts", "user_id", "value")
    out = drain_stream(spark, "zs_stream_", median_split(ev),
                       streaming_zscore)
    return out.select("user_id", "event_id", "n_prior",
                      F.round(F.col("z"), 4).alias("z"))


ORACLES["stream_zscore_events"] = """
    WITH w AS (
        SELECT user_id, event_id, value AS v,
               count(value) OVER pre AS np,
               avg(value) OVER pre AS m,
               stddev_pop(value) OVER pre AS sd
        FROM events
        WHERE value IS NOT NULL
        WINDOW pre AS (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING)
    )
    SELECT user_id, event_id, np AS n_prior,
           ROUND(CASE WHEN np >= 2 AND sd > 0
                      THEN (v - m) / sd END, 4) + 0 AS z
    FROM w
"""


def stream_upsert_events(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming CDC compaction twin, driver-oracled with a REAL
    StreamingQuery: events become a change feed (key = user_id,
    seq = event_id, op = D on purchases else U, val =
    NULL-coalesced cents-rounded value), split at the median
    timestamp into two mtime-pinned micro-batches so each user's
    winning change can land in either batch — the last-write-wins
    state and the cumulative change count must CROSS the batch
    boundary. The final per-key state (max cumulative count, seq
    tiebreak) is the check; the batch oracle is one max_by census
    in DuckDB."""
    from tablite_spark.streaming.ops import streaming_upsert_compact
    ev = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull())
    feed = ev.select(
        F.col("user_id").alias("key"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "purchase", "D")
        .otherwise("U").alias("op"),
        F.coalesce(F.round(F.col("value"), 2), F.lit(-1.0))
        .alias("val"),
        F.col("ts"))
    # NULL-ts rows must land in SOME batch (the oracle counts every
    # feed row; a bare `us <= cut` / `us > cut` pair drops them from
    # both) — route them to batch 0 via coalesce
    us = F.coalesce(
        F.unix_micros(F.col("ts").cast("timestamp")), F.lit(0))
    [halves] = median_split(feed, key=us)
    out = drain_stream(spark, "upsert_stream_",
                       [[h.drop("ts") for h in halves]],
                       streaming_upsert_compact)
    # final state per key = the emission with the greatest
    # cumulative count (ties impossible: n strictly increases per
    # emission)
    final = (out.groupBy("key")
             .agg(F.max_by(F.struct("seq", "op", "val"), "n_changes")
                  .alias("s"),
                  F.max("n_changes").alias("n_changes")))
    return final.select(F.col("key").alias("user_id"),
                        F.col("s.seq").alias("last_seq"),
                        F.col("s.op").alias("last_op"),
                        F.col("s.val").alias("last_val"),
                        "n_changes")


ORACLES["stream_upsert_events"] = """
    WITH feed AS (
        SELECT user_id AS key, event_id AS seq,
               CASE WHEN event_type = 'purchase'
                    THEN 'D' ELSE 'U' END AS op,
               COALESCE(ROUND(value, 2), -1.0) AS val
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT key AS user_id,
           max(seq) AS last_seq,
           max_by(op, seq) AS last_op,
           max_by(val, seq) AS last_val,
           count(*) AS n_changes
    FROM feed GROUP BY 1
"""


def stream_session_events(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming SESSION windows (30-min inactivity gap), driver-
    oracled with a REAL StreamingQuery: the events split at the
    median timestamp into two mtime-pinned micro-batches, so a
    user's session can OPEN in batch 0 and extend in batch 1 — the
    merge-across-batches state path is the thing under test. Two
    trailing sentinel batches (one far-future row each) push the
    event-time watermark past every real session: Spark applies the
    watermark computed at the END of batch N to batch N+1, so the
    first sentinel finalizes nothing and the second flushes all
    closed sessions in append mode. Values ride as integer cents
    (exact summation in any order); the DuckDB oracle is the
    gaps-and-islands formulation with the session_window boundary
    rule (gap >= 30 min starts a NEW session — an event at exactly
    start+gap is outside the half-open [start, last+gap) window)."""
    from tablite_spark.streaming.ops import session_aggregate
    ev = (_t(spark, sf, "events")
          .filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull())
          .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                  F.round(F.col("value") * 100, 0).alias("value")))
    out = drain_stream(
        spark, "sess_stream_",
        median_split(ev, flush={"user_id": -1, "value": 0.0}),
        lambda s: session_aggregate(s, gap="30 minutes",
                                    watermark="2 hours"))
    return (out.filter(F.col("user_id") >= 0)
            .select("user_id",
                    F.col("session_window.start")
                    .alias("session_start"),
                    "n_events",
                    (F.col("session_value") / 100.0)
                    .alias("session_value")))


ORACLES["stream_session_events"] = """
    WITH o AS (
        SELECT user_id, ts, round(value * 100, 0) AS vc,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         >= 1800000000
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT user_id, ts, vc,
               sum(ns) OVER (PARTITION BY user_id
                             ORDER BY ts) AS sid
        FROM o
    )
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events,
           CAST(sum(vc) AS DOUBLE) / 100.0 AS session_value
    FROM s GROUP BY user_id, sid
"""


def stream_interval_join_events(spark: SparkSession,
                                sf: str) -> DataFrame:
    """Stream-STREAM interval join through TWO real streams:
    purchases (left) join the same user's views (right) within the
    DAY before the purchase. Each side splits at the global median
    timestamp into two mtime-pinned micro-batches, so a view
    arriving in batch 0 must be HELD IN JOIN STATE to match a
    purchase arriving in batch 1 — the cross-batch state retention
    is the thing under test (the 2 h watermark evicts right-side
    state only past watermark − within, which provably retains every
    in-window view). Inner joins emit matches as soon as both sides
    are present, so no sentinel flush is needed. The oracle is the
    plain batch interval join; the result is an exact row set
    (integer-microsecond gap, no floats)."""
    from tablite_spark.streaming.ops import stream_interval_join
    ev = (_t(spark, sf, "events")
          .filter(F.col("user_id").isNotNull()
                  & F.col("ts").isNotNull())
          .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                  "event_id", "event_type"))
    sides = [ev.filter(F.col("event_type") == t).drop("event_type")
             for t in ("purchase", "view")]

    def query(left, right):
        # 1 DAY window: the hour-wide form matches only 3/40 pairs at
        # sf0.001/0.01 — too sparse to exercise cross-batch state; a
        # day gives 80/831 while the 2 h watermark still provably
        # retains every in-window view (eviction floor = watermark −
        # within)
        joined = stream_interval_join(left, right,
                                      key="user_id", within="1 day")
        return joined.select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("purchase_id"),
            F.col("r.event_id").alias("view_id"),
            (F.unix_micros(F.col("l.ts"))
             - F.unix_micros(F.col("r.ts"))).alias("gap_us"))

    return drain_stream(spark, "sij_stream_",
                        median_split(ev, *sides), query)


ORACLES["stream_interval_join_events"] = """
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
    FROM p JOIN v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 DAY
"""


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
    sides = [ev.filter(F.col("event_type") == t).drop("event_type")
             for t in ("purchase", "view")]

    def query(left, right):
        joined = stream_interval_join(left, right,
                                      key="user_id", within="1 day",
                                      how="leftOuter")
        return joined.select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("purchase_id"),
            F.col("r.event_id").alias("view_id"),
            (F.unix_micros(F.col("l.ts"))
             - F.unix_micros(F.col("r.ts"))).alias("gap_us"))

    out = drain_stream(
        spark, "sijo_stream_",
        median_split(ev, *sides, flush={"user_id": -1, "event_id": -1}),
        query)
    return out.filter(F.col("user_id") >= 0)


ORACLES["stream_interval_join_outer_events"] = """
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
    out = drain_stream(spark, "e1x_sink_", median_split(ev),
                       sink=exactly_once_parquet_sink, replay=True)
    return out.select("event_id", "user_id", "ts", "value")


ORACLES["exactly_once_sink_events"] = """
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE ts IS NOT NULL
"""


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
    # copy A split in two halves, then copy B (all dupes)
    [copy_a] = median_split(ev)
    return drain_stream(
        spark, "dedup_wm_", [copy_a + [ev]],
        lambda s: stream_dedup(s, ["event_id"], watermark="40 days"))


ORACLES["stream_dedup_watermark_events"] = """
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
    FROM events WHERE ts IS NOT NULL
"""


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
    out = drain_stream(
        spark, "sess_to_",
        median_split(ev, flush={"user_id": -1, "event_type": "view"}),
        streaming_session_timeout)
    return out.filter(F.col("user_id") >= 0)


ORACLES["stream_session_timeout_events"] = """
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
    mv = drain_stream(
        spark, "matview_",
        median_split(ev, key=F.unix_micros(F.col("day"))),
        sink=lambda s, path, ckpt: incremental_matview_sink(
            s, ["event_type", "day"], "vc", path, ckpt),
        replay=True, read="out/serve")
    return mv.select("event_type", "day",
                     F.col("n").alias("n_events"),
                     (F.col("s").cast("double") / 100)
                     .alias("total_value"))


ORACLES["stream_matview_events"] = """
    SELECT event_type,
           date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                AS DOUBLE) / 100 AS total_value
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
"""


def stream_static_join_events(spark: SparkSession,
                              sf: str) -> DataFrame:
    """The canonical streaming ENRICHMENT shape — a real file stream
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
    out = drain_stream(
        spark, "stream_static_", median_split(ev),
        lambda s: (s.withColumn("nk", F.col("user_id") % F.lit(nn))
                   .join(F.broadcast(dim), "nk")
                   .select("event_id", "nation", "event_type",
                           F.round(F.col("value") * 100, 0)
                           .cast("long").alias("vc"))))
    return (out.groupBy("nation", "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum("vc").cast("long").alias("value_cents")))


ORACLES["stream_static_join_events"] = """
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
