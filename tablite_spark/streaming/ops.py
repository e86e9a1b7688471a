"""Structured Streaming operators — additive capability (SURVEY §2.8:
the reference has no streaming; BASELINE.json asks for it).

Patterns: file-source readStream, watermarked tumbling windows,
session windows, and a custom stateful operator via
``applyInPandasWithState``. Each has a batch twin in
``__spark_entry__`` so correctness is oracle-checkable; the streaming
forms are exercised in tests with availableNow triggers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_from_directory(spark: SparkSession, path: str, schema,
                          fmt: str = "parquet") -> DataFrame:
    return (spark.readStream.format(fmt).schema(schema)
            .option("maxFilesPerTrigger", 4).load(path))


def tumbling_counts(events: DataFrame, ts_col: str = "ts",
                    window: str = "1 hour",
                    watermark: str = "2 hours",
                    keys: list[str] | None = None) -> DataFrame:
    """Watermarked tumbling-window counts. Late rows beyond the
    watermark are dropped; state is bounded by watermark horizon."""
    keys = keys or []
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window), *keys)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("total_value")))


def streaming_ohlc(events: DataFrame, ts_col: str = "ts",
                   val_col: str = "value", every: str = "1 hour",
                   watermark: str = "2 hours",
                   by: list[str] | None = None,
                   tiebreak: str | None = None) -> DataFrame:
    """Watermarked streaming OHLC bars — the streaming form of
    ``operators.timeseries.ohlc_resample`` (the oracled batch twin:
    same combinable min_by/max_by/min/max/count/sum state, same
    deterministic (ts, id) open/close tie key). State is one row per
    (group, bucket) bounded by the watermark horizon; late rows
    beyond it are dropped, bars finalize (append mode) when the
    watermark passes the bucket end."""
    from tablite_spark.operators.timeseries import _order_key
    by = list(by or [])
    key = _order_key(ts_col, tiebreak)
    v = F.col(val_col)
    out = (events.withWatermark(ts_col, watermark)
           .groupBy(*by, F.window(F.col(ts_col), every).alias("w"))
           .agg(F.min_by(v, key).alias("open"),
                F.max(v).alias("high"),
                F.min(v).alias("low"),
                F.max_by(v, key).alias("close"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum(v).alias("sum_value")))
    return out.select(*by, F.col("w.start").alias("bucket_start"),
                      "open", "high", "low", "close", "n_events",
                      "sum_value")


def session_aggregate(events: DataFrame, ts_col: str = "ts",
                      gap: str = "30 minutes",
                      watermark: str = "2 hours",
                      key: str = "user_id") -> DataFrame:
    """Session windows with inactivity gap (state closes at watermark)."""
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap), F.col(key))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("session_value")))


_STATE_SCHEMA = T.StructType([T.StructField("total", T.DoubleType())])
_OUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("batch_events", T.LongType()),
    T.StructField("running_total", T.DoubleType()),
])


def _running_total_fn(key, pdfs, state: GroupState):
    import pandas as pd
    total = state.get[0] if state.exists else 0.0
    n = 0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "batch_events": [n],
                        "running_total": [total]})


def stateful_running_total(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running total across
    micro-batches via applyInPandasWithState (Arrow-batched, bounded
    state per key)."""
    return (events.groupBy("user_id").applyInPandasWithState(
        _running_total_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ))


def _ordered(pdfs):
    """One key's micro-batch rows as one frame in (ts, event_id)
    order — a stable sort, so equal keys keep arrival order — or None
    when the batch holds none. Across micro-batches, arrival order is
    the contract of every sequential state function here: an
    out-of-order arrival belongs to the watermarked operators."""
    import pandas as pd
    parts = [pdf for pdf in pdfs if len(pdf)]
    if not parts:
        return None
    return (pd.concat(parts, ignore_index=True)
            .sort_values(["ts", "event_id"], kind="mergesort"))


_EMA_STATE = T.StructType([T.StructField("ema", T.DoubleType())])
_EMA_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("ema", T.DoubleType()),
])
_EMA_ALPHA = 0.25


def _ema_fn(key, pdfs, state: GroupState):
    import pandas as pd
    e = state.get[0] if state.exists else None
    pdf = _ordered(pdfs)
    if pdf is None:
        return
    ids, emas = [], []
    for eid, v in zip(pdf["event_id"], pdf["value"]):
        if pd.isna(v):
            ids.append(eid)
            emas.append(None)
            continue
        e = float(v) if e is None else \
            (1.0 - _EMA_ALPHA) * e + _EMA_ALPHA * float(v)
        ids.append(eid)
        emas.append(e)
    if e is not None:
        state.update((e,))
    yield pd.DataFrame({"user_id": key[0], "event_id": ids,
                        "ema": emas})


def streaming_ema(events: DataFrame) -> DataFrame:
    """Streaming twin of :func:`tablite_spark.operators.timeseries.
    ema_smooth` (alpha=0.25, adjust=False, nulls pass through without
    advancing state): per-user EMA continued ACROSS micro-batches via
    ``applyInPandasWithState`` — the state is one double per user, so
    a 100M-user stream carries 800 MB of state, partitioned by key.
    Row order is :func:`_ordered`'s contract. An availableNow drain over a static directory reproduces the
    batch operator exactly (tests/test_streaming.py)."""
    return (events.groupBy("user_id").applyInPandasWithState(
        _ema_fn,
        outputStructType=_EMA_OUT,
        stateStructType=_EMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ))


_SI_STATE = T.StructType([
    T.StructField("state", T.StringType()),
    T.StructField("valid_from", T.TimestampType()),
    T.StructField("n_obs", T.LongType()),
])
_SI_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("state", T.StringType()),
    T.StructField("valid_from", T.TimestampType()),
    T.StructField("valid_to", T.TimestampType()),
    T.StructField("n_obs", T.LongType()),
])


def _si_fn(key, pdfs, state: GroupState):
    import pandas as pd
    cur, vfrom, nobs = (state.get if state.exists
                        else (None, None, 0))
    pdf = _ordered(pdfs)
    if pdf is None:
        return
    out = []
    for ts, st in zip(pdf["ts"], pdf["event_type"]):
        if cur is None:
            cur, vfrom, nobs = st, ts, 1
        elif st == cur:
            nobs += 1
        else:
            out.append((key[0], cur, vfrom, ts, nobs))
            cur, vfrom, nobs = st, ts, 1
    state.update((cur, vfrom, int(nobs)))
    if out:
        yield pd.DataFrame(out, columns=["user_id", "state",
                                         "valid_from", "valid_to",
                                         "n_obs"])


def streaming_state_changes(events: DataFrame) -> DataFrame:
    """Streaming twin of :func:`tablite_spark.operators.timeseries.
    state_intervals`: per-user SCD2 interval CLOSE events, emitted
    the moment a state change supersedes the open interval —
    ``applyInPandasWithState`` with (state, valid_from, n_obs) as
    the per-key state (one small tuple per key, partitioned by key,
    exactly the EMA twin's footprint story). The still-open interval
    lives only in state; an availableNow drain over a static
    directory therefore reproduces the batch operator's CLOSED rows
    (valid_to IS NOT NULL) exactly, which the StreamingQuery test
    asserts. Row order is :func:`_ordered`'s contract."""
    return (events.groupBy("user_id").applyInPandasWithState(
        _si_fn,
        outputStructType=_SI_OUT,
        stateStructType=_SI_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ))


def sliding_counts(events: DataFrame, ts_col: str = "ts",
                   window: str = "1 hour", slide: str = "30 minutes",
                   watermark: str = "2 hours",
                   keys: list[str] | None = None) -> DataFrame:
    """Sliding (hopping) windows — each event lands in window/slide
    overlapping windows; watermark bounds state as with tumbling."""
    keys = keys or []
    return (events.withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window, slide), *keys)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("value").alias("total_value")))


def stream_dedup(events: DataFrame, keys: list[str],
                 ts_col: str = "ts", watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup within the watermark horizon —
    dropDuplicates over keys with bounded state (the streaming twin of
    pipeline.dedup.exact_dedup)."""
    return (events.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(keys))


def stream_interval_join(left: DataFrame, right: DataFrame,
                         key: str, ts_col: str = "ts",
                         watermark: str = "2 hours",
                         within: str = "1 hour",
                         how: str = "inner") -> DataFrame:
    """Stream-stream interval join: right events within ``within``
    BEFORE each left event on the same key. Both sides are
    watermarked so the join state is bounded (Spark evicts right
    rows older than left.ts - within once the watermark passes — the
    canonical bounded stream-stream join shape).

    ``how`` extends to the outer forms (``leftOuter`` /
    ``rightOuter`` / ``fullOuter``): an unmatched row is held in
    state until the watermark proves no match can still arrive, THEN
    emitted null-padded — so outer results trail the watermark by
    design, and a query that stops before a further micro-batch
    advances the watermark never sees the trailing nulls (exercised
    in tests/test_streaming.py::test_stream_outer_interval_join).
    The time-range condition plus both watermarks are exactly what
    Spark requires for outer stream-stream joins to be able to
    finalize state."""
    allowed = ("inner", "leftOuter", "rightOuter", "fullOuter")
    if how not in allowed:
        raise ValueError(f"how must be one of {allowed}, got {how!r}")
    lw = left.withWatermark(ts_col, watermark).alias("l")
    rw = right.withWatermark(ts_col, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{ts_col}") <= F.col(f"l.{ts_col}"))
        & (F.col(f"r.{ts_col}") >= F.col(f"l.{ts_col}") - F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, on=cond, how=how)


def _drain(stream: DataFrame, write_batch, checkpoint: str):
    """Start ``stream`` into ``foreachBatch(write_batch)`` under
    ``checkpoint`` on the availableNow trigger: it drains what is
    there, then stops. The shared tail of the idempotent sinks."""
    return (stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def exactly_once_parquet_sink(stream: DataFrame, path: str,
                              checkpoint: str):
    """Exactly-once parquet sink via idempotent ``foreachBatch``.

    Structured Streaming's contract is at-least-once delivery of each
    micro-batch to ``foreachBatch`` — a task/driver retry can replay
    a batch id. Writing each batch to its own hive partition
    ``batch_id=N`` with mode=overwrite makes the replay IDEMPOTENT
    (the rewrite replaces exactly the prior attempt's files, never
    appends beside them), which upgrades the pipeline to effective
    exactly-once without any external transaction log. Downstream
    reads the directory tree as ordinary partitioned parquet — and
    can partition-prune on ``batch_id`` for incremental consumption.

    Returns the started StreamingQuery; it runs on the availableNow
    trigger (the batch-style backfill), so the caller can
    ``awaitTermination`` for a drain-and-stop run.
    """
    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .parquet(f"{path}/batch_id={batch_id}"))

    return _drain(stream, _write, checkpoint)


def stream_incremental_dedup(stream: DataFrame, text_col: str,
                             id_col: str, index_path: str,
                             out_path: str, checkpoint: str,
                             threshold: float = 0.8):
    """Streaming ingestion-loop dedup: each micro-batch is NEAR-dup
    deduplicated against the persisted MinHash index
    (``pipeline.dedup.incremental_minhash_dedup``), survivors land in
    ``out_path/batch_id=N`` (idempotent partition overwrite — the
    exactly-once sink pattern), and the accepted docs' signatures/
    bands append to the index so later batches dedup against them.

    Delivery semantics: the survivor OUTPUT is exactly-once (a batch
    replay overwrites its own partition). The index APPEND is
    at-least-once — a replay can append the same signatures twice —
    which is deliberately harmless: duplicate (id, minhash) index rows
    produce duplicate candidate pairs that collapse in the probe's
    ``distinct()``, and self-matches are excluded by id, so a replayed
    batch neither drops its own docs nor changes any dedup verdict;
    the only cost is index bytes (compact with a periodic
    ``minhash_save_index(distinct signatures, mode="overwrite")``).

    The index must exist before the query starts (build it from the
    seed corpus with ``minhash_save_index``) — batch 0 of a greenfield
    stream can seed it from an empty frame.
    """
    from tablite_spark.pipeline.dedup import incremental_minhash_dedup

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        kept = incremental_minhash_dedup(
            batch_df, text_col, id_col, index_path,
            threshold=threshold, update_index=True)
        (kept.write.mode("overwrite")
         .parquet(f"{out_path}/batch_id={batch_id}"))

    return _drain(stream, _write, checkpoint)


_ATTR_STATE = T.StructType([
    T.StructField("channel", T.StringType()),
])
_ATTR_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("channel", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def streaming_attribution(events: DataFrame,
                          conversion: str = "purchase",
                          touches: tuple = ("view", "click",
                                            "signup")) -> DataFrame:
    """Streaming twin of :func:`tablite_spark.operators.timeseries.
    attribute_conversions`: per-user LAST-TOUCH carry continued
    across micro-batches via ``applyInPandasWithState`` — the state
    is one small string per user (the most recent touch channel),
    partitioned by key, the EMA twin's footprint story. Each
    conversion row is emitted THE MOMENT it arrives, credited to the
    carried channel (NULL when no touch preceded it — matching the
    batch operator's NULL channel). Row-level attributed conversions
    are emitted (append mode) so any downstream aggregation —
    channel totals, windowed conversion rates — composes; an
    availableNow drain over a static directory aggregates to exactly
    the batch operator's totals (StreamingQuery-tested). Row order
    is :func:`_ordered`'s contract."""
    touches = tuple(touches)

    def fn(key, pdfs, state: GroupState):
        import pandas as pd
        carry = state.get[0] if state.exists else None
        pdf = _ordered(pdfs)
        if pdf is None:
            return
        out = []
        for eid, et, v in zip(pdf["event_id"], pdf["event_type"],
                              pdf["value"]):
            if et == conversion:
                out.append((key[0], eid, carry,
                            None if pd.isna(v) else float(v)))
            elif et in touches:
                carry = et
        if carry is not None:
            state.update((carry,))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "event_id",
                                             "channel", "value"])

    return (events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_ATTR_OUT,
        stateStructType=_ATTR_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ))


_ZS_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("mean", T.DoubleType()),
    T.StructField("m2", T.DoubleType()),
])
_ZS_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("event_id", T.LongType()),
    T.StructField("n_prior", T.LongType()),
    T.StructField("z", T.DoubleType()),
])


def _zscore_fn(key, pdfs, state: GroupState):
    import pandas as pd
    n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
    pdf = _ordered(pdfs)
    if pdf is None:
        return
    ids, priors, zs = [], [], []
    for eid, v in zip(pdf["event_id"], pdf["value"]):
        if pd.isna(v):
            continue                      # nulls never touch state
        x = float(v)
        var = m2 / n if n >= 2 else 0.0
        z = (x - mean) / var ** 0.5 if n >= 2 and var > 0 else None
        ids.append(eid)
        priors.append(n)
        zs.append(z)
        # Welford update AFTER scoring: z is against PRIOR history
        n += 1
        d = x - mean
        mean += d / n
        m2 += d * (x - mean)
    state.update((int(n), float(mean), float(m2)))
    yield pd.DataFrame({"user_id": key[0], "event_id": ids,
                        "n_prior": priors, "z": zs})


def streaming_zscore(events: DataFrame) -> DataFrame:
    """Online per-key anomaly scoring: each event's z-score against
    the key's ENTIRE PRIOR history (Welford running mean/M2 — one
    (long, double, double) of state per key, continued across
    micro-batches via ``applyInPandasWithState``). The first two
    events per key emit NULL z (no variance evidence yet); NULL
    values pass through without touching state. Batch twin: the
    expanding-frame window avg/stddev_pop — an EXPANDING frame is
    incrementally maintained by Spark (unlike the sliding frames the
    rolling_agg burn-in falsified), so the twin stays O(n) per key.
    Beyond-reference: the streaming drift monitor an ingest pipeline
    runs ahead of the batch seasonal/CUSUM screens."""
    return (events.groupBy("user_id").applyInPandasWithState(
        _zscore_fn,
        outputStructType=_ZS_OUT,
        stateStructType=_ZS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ))


_UPS_STATE = T.StructType([
    T.StructField("seq", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("val", T.DoubleType()),
    T.StructField("n", T.LongType()),
])
_UPS_OUT = T.StructType([
    T.StructField("key", T.LongType()),
    T.StructField("seq", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("val", T.DoubleType()),
    T.StructField("n_changes", T.LongType()),
])


def _upsert_fn(key, pdfs, state: GroupState):
    import pandas as pd
    seq, op, val, n = (state.get if state.exists
                       else (None, None, None, 0))
    for pdf in pdfs:
        n += len(pdf)
        i = pdf["seq"].idxmax()
        if seq is None or int(pdf["seq"].loc[i]) > seq:
            seq = int(pdf["seq"].loc[i])
            op = str(pdf["op"].loc[i])
            val = float(pdf["val"].loc[i])
    state.update((seq, op, val, int(n)))
    yield pd.DataFrame({"key": [key[0]], "seq": [seq], "op": [op],
                        "val": [val], "n_changes": [int(n)]})


def streaming_upsert_compact(changes: DataFrame) -> DataFrame:
    """Streaming CDC compaction — the stream twin of
    ``operators/merge.py:merge_upsert``'s feed-collapse stage: per
    key, carry the HIGHEST-SEQUENCE change (last-write-wins) and the
    cumulative change count across micro-batches, emitting the key's
    current net state each batch it changes (append-mode emissions —
    one "state after this batch" record per touched key). Input
    columns: (key long, seq long, op string, val double). Applying
    the compacted feed to a base table is the periodic batch
    ``merge_upsert``; this operator keeps the feed collapsed BETWEEN
    merges, so the batch join is always |keys|-bounded, never
    |events|-bounded. State per key is one (long, string, double,
    long) — bounded regardless of stream length; seq order across
    batches is irrelevant (max-seq is commutative), so no
    event-time watermark is needed for correctness.
    """
    return (changes.groupBy("key").applyInPandasWithState(
        _upsert_fn,
        outputStructType=_UPS_OUT,
        stateStructType=_UPS_STATE,
        # append semantics: each emission is a NEW "state after this
        # batch" record (n_changes strictly increases), so the
        # parquet sink's append mode is sound — the zscore twin's
        # discipline
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ))


_SESS_TO_STATE = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("n", T.LongType()),
    T.StructField("purchased", T.BooleanType()),
])
_SESS_TO_OUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("purchased", T.BooleanType()),
])
_SESS_GAP_US = 30 * 60 * 1_000_000


def _session_timeout_fn(key, pdfs, state: GroupState):
    import numpy as np
    import pandas as pd

    def emit(starts, lasts, ns, ps):
        # ONE DataFrame per invocation, built from integer-µs numpy
        # arrays viewed as datetime64[us] — no pd.to_datetime pass,
        # no per-row python objects. Values identical to the r14
        # form (µs-exact timestamps, int64 counts, bool flags).
        return pd.DataFrame({
            "user_id": key[0],
            "session_start": np.asarray(starts, dtype="int64")
            .view("datetime64[us]"),
            "session_end": np.asarray(lasts, dtype="int64")
            .view("datetime64[us]"),
            "n_events": np.asarray(ns, dtype="int64"),
            "purchased": np.asarray(ps, dtype=bool)})

    if state.hasTimedOut:
        s, l, n, p = state.get
        state.remove()
        yield emit([s], [l], [n], [bool(p)])
        return
    # r15 (guide §4.2 vectorize the python side): the per-event
    # python loop + pandas concat/sort cost ~2.1 ms per key
    # invocation (accumulator-timed, 4.5k invocations ≈ 9.6 s of the
    # 8.3 s wall at sf0.1 — the dominant cost of the whole query).
    # Sessionization is a segmented reduction, so it vectorizes:
    # stable argsort on the integer-µs array, gap breaks via diff,
    # per-segment count/any via cumsum — identical tuples by
    # construction (same stable order, same >= gap rule, same
    # carried-state merge), no row loop.
    ts_chunks, pur_chunks = [], []
    for pdf in pdfs:
        if len(pdf):
            ts_chunks.append(pdf["ts"].to_numpy()
                             .astype("datetime64[us]").astype("int64"))
            pur_chunks.append(
                pdf["event_type"].to_numpy() == "purchase")
    if not ts_chunks:
        return
    t = (ts_chunks[0] if len(ts_chunks) == 1
         else np.concatenate(ts_chunks))
    pur = (pur_chunks[0] if len(pur_chunks) == 1
           else np.concatenate(pur_chunks))
    order = np.argsort(t, kind="stable")
    t, pur = t[order], pur[order]
    brk = np.flatnonzero(np.diff(t) >= _SESS_GAP_US) + 1
    seg_start = np.concatenate(([0], brk))
    seg_end = np.concatenate((brk, [len(t)]))
    starts = t[seg_start]
    lasts = t[seg_end - 1]
    ns = (seg_end - seg_start).astype("int64")
    cp = np.concatenate(([0], np.cumsum(pur.astype("int64"))))
    ps = (cp[seg_end] - cp[seg_start]) > 0
    if state.exists:
        s0, l0, n0, p0 = state.get
        if t[0] - l0 >= _SESS_GAP_US:
            # the carried session closes on the data path
            starts = np.concatenate(([s0], starts))
            lasts = np.concatenate(([l0], lasts))
            ns = np.concatenate(([n0], ns))
            ps = np.concatenate(([bool(p0)], ps))
        else:
            # the carried session continues into segment 0
            starts[0] = s0
            ns[0] += n0
            ps[0] = bool(ps[0]) or bool(p0)
    l = int(lasts[-1])
    state.update((int(starts[-1]), l, int(ns[-1]), bool(ps[-1])))
    # the open session times out once the event-time watermark
    # passes last + gap; a session already past the watermark gets
    # wm+1 so the set call is legal and it fires next batch
    wm_ms = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(l // 1000 + _SESS_GAP_US // 1000,
                                  wm_ms + 1))
    if len(starts) > 1:
        yield emit(starts[:-1], lasts[:-1], ns[:-1], ps[:-1])


def streaming_session_timeout(events: DataFrame,
                              ts_col: str = "ts",
                              watermark: str = "2 hours") -> DataFrame:
    """Custom sessionizer on ``applyInPandasWithState`` with
    EVENT-TIME TIMEOUTS — the state primitive none of the other
    streaming ops exercise: interior sessions (superseded by a
    later same-key event after a >= 30 min gap) emit on the DATA
    path, but the LAST session of a key has no successor event, so
    it can only emit when ``GroupStateTimeout.EventTimeTimeout``
    fires — the watermark passing last_event + gap proves no
    in-order event can extend it. Each invocation re-arms the
    timeout at max(last + gap, watermark + 1) (Spark rejects a
    timeout at or below the current watermark; the clamp makes an
    already-expired session fire on the NEXT batch).

    The output carries the session's conversion flag, so filtering
    ``purchased = false`` is the classic abandoned-cart feed.
    Semantics twin: ``session_window`` aggregation / the batch
    gaps-and-islands form — same >= gap half-open boundary — which
    is exactly how the registry oracles it.

    State is one (start, last, n, purchased) tuple per OPEN session
    per key — hot keys cost one row (r14 session_hot burn-in
    receipt), and timeout eviction bounds state by the watermark
    horizon."""
    return (events.withWatermark(ts_col, watermark)
            .groupBy("user_id").applyInPandasWithState(
                _session_timeout_fn,
                outputStructType=_SESS_TO_OUT,
                stateStructType=_SESS_TO_STATE,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            ))


def incremental_matview_sink(stream: DataFrame, keys: list[str],
                             value_col: str, base_path: str,
                             checkpoint: str):
    """Incrementally-maintained aggregate table (the streaming
    materialized view): each micro-batch writes its COMBINABLE
    partial aggregate (count + sum) to its own
    ``parts/batch_id=N`` partition — ``mode=overwrite``, so a
    replayed batch is IDEMPOTENT exactly like
    :func:`exactly_once_parquet_sink` — then compacts every partial
    into the served table (``serve/``, swapped in via temp dir +
    rename so readers never see a half-written view).

    Delivery semantics inherit the sink pattern: partials are
    exactly-once under replay, and the serve compaction is a pure
    function of the partials, so ANY crash/replay interleaving
    converges to the batch truth — which is how the registry oracles
    it (with a forced batch-0 replay in the fixture). The compaction
    cost is |distinct keys| per batch, not stream length; a 100 TB
    deployment with a large key space would compact every K batches
    or serve straight off the partials (both are the same idempotent
    algebra)."""
    import os
    import shutil

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        part = (batch_df.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(value_col).alias("s")))
        (part.write.mode("overwrite")
         .parquet(f"{base_path}/parts/batch_id={batch_id}"))
        spark = batch_df.sparkSession
        serve = (spark.read.parquet(f"{base_path}/parts")
                 .groupBy(*keys)
                 .agg(F.sum("n").alias("n"), F.sum("s").alias("s")))
        tmp = f"{base_path}/serve_tmp"
        serve.write.mode("overwrite").parquet(tmp)
        final = f"{base_path}/serve"
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    return _drain(stream, _write, checkpoint)
