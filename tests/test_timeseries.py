"""OHLC resampling, funnels, phrase search, Bloom decontamination
(round-8 additions — beyond the reference, which has no time-series
or retrieval operators; cited: the reference's closest surface is
``xround`` timestamp bucketing, ``/root/reference/tablite/redux.py``).
"""
import datetime as dt

import pytest
from pyspark.sql import functions as F

from tablite_spark.operators.timeseries import funnel, ohlc_resample


def _ts(m, s=0, us=0):
    return dt.datetime(2024, 1, 1, 0, m, s, us)


def test_ohlc_basic_and_ties(spark):
    rows = [
        # bucket 00:00: open=5 (earliest), close=9 (latest), ties on
        # the SAME timestamp broken by event_id (id 1 < id 2)
        ("a", _ts(1), 1, 5),
        ("a", _ts(2), 1, 40),
        ("a", _ts(3), 1, -7),
        ("a", _ts(59, 59), 1, 9),
        # same-ts tie at minute 30: event_id 1 wins open, 2 wins close
        ("b", _ts(30), 1, 100),
        ("b", _ts(30), 2, 200),
        # bucket 01:00
        ("a", dt.datetime(2024, 1, 1, 1, 5), 1, 77),
    ]
    df = spark.createDataFrame(rows, "sym string, ts timestamp, "
                                     "event_id long, v long")
    out = {(r["sym"], r["bucket_start"].hour): r
           for r in ohlc_resample(df, "ts", "v", "1 hour", by=["sym"],
                                  tiebreak="event_id").collect()}
    a0 = out[("a", 0)]
    assert (a0["open"], a0["high"], a0["low"], a0["close"]) == (5, 40, -7, 9)
    assert a0["n_events"] == 4 and a0["sum_value"] == 47
    b0 = out[("b", 0)]
    assert (b0["open"], b0["close"]) == (100, 200)
    assert out[("a", 1)]["open"] == 77


def test_ohlc_no_window_in_plan(spark):
    df = spark.createDataFrame([("a", _ts(1), 1, 5)],
                               "sym string, ts timestamp, "
                               "event_id long, v long")
    plan = ohlc_resample(df, "ts", "v", "1 hour", by=["sym"],
                         tiebreak="event_id")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan  # combinable agg only


def test_funnel_plan_no_window_no_cartesian(spark):
    """The funnel must stay a filter + combinable-min + user-keyed
    join chain: a Window over the event stream would serialize hot
    users through one task, and a cartesian/BNL join would explode at
    corpus scale."""
    df = spark.createDataFrame([(1, "view", _ts(1))],
                               "user_id long, event_type string, "
                               "ts timestamp")
    plan = funnel(df, ["view", "click", "purchase"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_phrase_search_plan_no_join_no_window(spark):
    """Anchor voting is two combinable groupBys over ONE posexplode —
    the textbook positional n−1 self-join chain (re-shuffling a
    posting list per phrase word) must not appear."""
    from tablite_spark.pipeline.retrieval import phrase_search
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = phrase_search(df, "text", "doc_id", "a b c")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Window" not in plan


def test_funnel_strict_order(spark):
    rows = [
        # u1 completes the funnel (view < click < purchase)
        (1, "view", _ts(1)), (1, "click", _ts(2)), (1, "purchase", _ts(3)),
        # u2: purchase BEFORE click -> stops at click
        (2, "view", _ts(1)), (2, "purchase", _ts(2)), (2, "click", _ts(5)),
        # u3: click before view -> the later view has no click after it
        (3, "click", _ts(1)), (3, "view", _ts(4)),
        # u4 never views (clicks don't create a funnel entry)
        (4, "click", _ts(1)),
        # u1's SECOND view later must not shift t_view (min semantics)
        (1, "view", _ts(9)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, "
                                     "ts timestamp")
    out = {r["user_id"]: r for r in
           funnel(df, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 3}  # u4 dropped before the funnel
    assert out[1]["t_view"] == _ts(1) and out[1]["t_purchase"] == _ts(3)
    assert out[2]["t_click"] == _ts(5) and out[2]["t_purchase"] is None
    assert out[3]["t_click"] is None and out[3]["t_purchase"] is None


def test_retention_cohorts(spark):
    from tablite_spark.operators.timeseries import retention_cohorts
    d = dt.datetime
    rows = [
        # u1 first in week of 2024-01-04 (thu-aligned spark weeks),
        # active again 1 and 3 weeks later
        (1, d(2024, 1, 5)), (1, d(2024, 1, 12)), (1, d(2024, 1, 26)),
        # u2 same cohort, only the first week
        (2, d(2024, 1, 6)),
        # u3 next cohort, active next week too
        (3, d(2024, 1, 11)), (3, d(2024, 1, 18)),
        # u1 twice in one bucket must count once
        (1, d(2024, 1, 5, 9)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {(r["cohort_start"].date().isoformat(), r["period"]): r["n_users"]
           for r in retention_cohorts(df, "ts", "user_id",
                                      "1 week").collect()}
    assert out[("2024-01-04", 0)] == 2      # u1 + u2
    assert out[("2024-01-04", 1)] == 1      # u1
    assert out[("2024-01-04", 3)] == 1      # u1
    assert out[("2024-01-11", 0)] == 1      # u3
    assert out[("2024-01-11", 1)] == 1      # u3
    assert ("2024-01-04", 2) not in out
    # day-sized buckets: the bucket-length probe must yield 86400 s
    day = {(r["cohort_start"].date().isoformat(), r["period"]): r["n_users"]
           for r in retention_cohorts(df, "ts", "user_id",
                                      "1 day").collect()}
    assert day[("2024-01-05", 7)] == 1      # u1 a week after day-cohort
    plan = retention_cohorts(df, "ts", "user_id")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_interpolate_at_linear_locf_and_edges(spark):
    from tablite_spark.operators.timeseries import interpolate_at
    series = spark.createDataFrame(
        [(1, _ts(0), 10.0), (1, _ts(10), 20.0), (1, _ts(10), 30.0),
         (2, _ts(5), 100.0)],
        "user_id long, ts timestamp, value double")
    targets = spark.createDataFrame(
        [(1, 1, _ts(5)),    # halfway 10..30 (dup sample at t=10 -> max)
         (2, 1, _ts(10)),   # exactly at a sample
         (3, 1, _ts(15)),   # past the last sample -> null (linear)
         (4, 2, _ts(1)),    # before the first sample -> null
         (5, 3, _ts(5))],   # unknown group -> null
        "tid long, user_id long, ts timestamp")
    lin = {r["tid"]: r["value"] for r in interpolate_at(
        series, targets, "ts", "value", by=["user_id"]).collect()}
    assert lin[1] == 20.0          # 10 + (30-10) * 0.5
    assert lin[2] == 30.0          # dup ts dedups to max(value)
    assert lin[3] is None and lin[4] is None and lin[5] is None
    locf = {r["tid"]: r["value"] for r in interpolate_at(
        series, targets, "ts", "value", by=["user_id"],
        method="locf").collect()}
    assert locf[3] == 30.0 and locf[4] is None
    # numeric (non-timestamp) axis
    s2 = spark.createDataFrame([(0, 0.0), (4, 8.0)], "x long, v double")
    t2 = spark.createDataFrame([(9, 3)], "tid long, x long")
    out2 = interpolate_at(s2, t2, "x", "v").collect()
    assert out2[0]["value"] == 6.0


def test_interpolate_at_plan_no_cartesian(spark):
    """Both asof passes are the union + ordered-carry form — no
    inequality join may degrade to a cartesian/BNL product."""
    from tablite_spark.operators.timeseries import interpolate_at
    s = spark.createDataFrame([(1, _ts(0), 1.0)],
                              "user_id long, ts timestamp, value double")
    t = spark.createDataFrame([(1, 1, _ts(1))],
                              "tid long, user_id long, ts timestamp")
    plan = interpolate_at(s, t, "ts", "value", by=["user_id"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_phrase_search_overlaps_and_dup_words(spark):
    from tablite_spark.pipeline.retrieval import phrase_search
    rows = [
        (1, "x table table y"),          # one match at pos 1
        (2, "table table table"),        # overlapping: anchors 0 and 1
        (3, "table x table"),            # no adjacent pair
        (4, "Table, TABLE!"),            # case/punct-insensitive
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           phrase_search(df, "text", "doc_id", "table table").collect()}
    assert set(out) == {1, 2, 4}
    assert (out[1]["n_matches"], out[1]["first_pos"]) == (1, 1)
    assert (out[2]["n_matches"], out[2]["first_pos"]) == (2, 0)
    assert out[4]["n_matches"] == 1


def test_phrase_search_three_words(spark):
    from tablite_spark.pipeline.retrieval import phrase_search
    df = spark.createDataFrame(
        [(1, "a b c a b"), (2, "a b"), (3, "c a b c")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           phrase_search(df, "text", "doc_id", "a b c").collect()}
    assert set(out) == {1, 3}
    assert out[3]["first_pos"] == 1


def test_bloom_decontaminate_matches_exact(spark):
    from tablite_spark.pipeline.text import (bloom_decontaminate,
                                             contamination_check)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 13 + j) % 40}" for j in range(30)))
         for i in range(60)],
        "doc_id long, text string")
    probes = (docs.filter(F.col("doc_id") < 3)
              .select(F.col("doc_id").alias("probe_id"),
                      F.col("text").alias("probe_text")))
    args = (docs, probes, "text", "doc_id", "probe_text", "probe_id")
    exact = {(r["doc_id"], r["probe_id"]): (r["shared_grams"], r["overlap"])
             for r in contamination_check(*args, n=4).collect()}
    bloom = {(r["doc_id"], r["probe_id"]): (r["shared_grams"], r["overlap"])
             for r in bloom_decontaminate(*args, n=4).collect()}
    assert exact and bloom == exact  # identical output incl. overlaps


def test_bloom_decontaminate_empty_probes(spark):
    from tablite_spark.pipeline.text import bloom_decontaminate
    docs = spark.createDataFrame([(1, "a b c d e f")],
                                 "doc_id long, text string")
    probes = docs.filter("doc_id < 0").select(
        F.col("doc_id").alias("probe_id"), F.col("text").alias("probe_text"))
    out = bloom_decontaminate(docs, probes, "text", "doc_id",
                              "probe_text", "probe_id", n=3)
    assert out.count() == 0


def test_interpolate_at_out_col_guard(spark):
    """ADVICE r8: interpolate_at must not silently overwrite a
    pre-existing 'value' column on targets — raise on collision,
    honor out_col otherwise."""
    from tablite_spark.operators.timeseries import interpolate_at
    series = spark.createDataFrame(
        [(1, _ts(0), 10.0), (1, _ts(10), 20.0)],
        "user_id long, ts timestamp, value double")
    tgt_clash = spark.createDataFrame(
        [(1, 1, _ts(5), 99.0)],
        "tid long, user_id long, ts timestamp, value double")
    with pytest.raises(ValueError, match="value"):
        interpolate_at(series, tgt_clash, "ts", "value", by=["user_id"])
    out = interpolate_at(series, tgt_clash, "ts", "value",
                         by=["user_id"], out_col="interp").collect()
    assert out[0]["interp"] == 15.0 and out[0]["value"] == 99.0


def test_ema_smooth_matches_pandas_and_handles_nulls(spark):
    """ema_smooth must reproduce the exact adjust=False recurrence
    (seed = first value), skip nulls without advancing the state, and
    respect the (ts, tiebreak) order under any input order."""
    import pandas as pd

    from tablite_spark.operators.timeseries import ema_smooth
    rows = [
        (1, _ts(0), 10, 8.0), (1, _ts(1), 11, 16.0),
        (1, _ts(2), 12, None), (1, _ts(3), 13, 4.0),
        # equal ts -> event_id breaks the tie
        (2, _ts(0), 21, 1.0), (2, _ts(0), 20, 3.0), (2, _ts(1), 22, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double") \
        .orderBy(F.rand(7))  # scramble input order
    out = {(r["user_id"], r["event_id"]): r["ema"] for r in
           ema_smooth(df, "ts", "value", by=["user_id"], alpha=0.25,
                      tiebreak=["event_id"]).collect()}
    # user 1: 8 -> .75*8+.25*16=10 -> null (state carries) -> .75*10+.25*4=8.5
    assert out[(1, 10)] == 8.0 and out[(1, 11)] == 10.0
    assert out[(1, 12)] is None and out[(1, 13)] == 8.5
    # user 2: order (20, 21, 22) by (ts, event_id): 3 -> 2.5 -> 3.125
    assert out[(2, 20)] == 3.0 and out[(2, 21)] == 2.5
    assert out[(2, 22)] == 3.125
    # cross-check the whole thing against pandas' C kernel
    pdf = pd.DataFrame(rows, columns=["u", "ts", "eid", "v"]) \
        .sort_values(["u", "ts", "eid"])
    for u, g in pdf.groupby("u"):
        e = g["v"].ewm(alpha=0.25, adjust=False, ignore_na=True).mean()
        for eid, v, ev in zip(g["eid"], g["v"], e):
            want = None if pd.isna(v) else ev
            assert out[(u, eid)] == want
    with pytest.raises(ValueError, match="group key"):
        ema_smooth(df, "ts", "value", by=[])
    with pytest.raises(ValueError, match="ema"):
        ema_smooth(df.withColumn("ema", F.lit(0.0)), "ts", "value",
                   by=["user_id"])


def test_ema_smooth_alpha_bounds(spark):
    from tablite_spark.operators.timeseries import ema_smooth
    df = spark.createDataFrame([(1, _ts(0), 1, 1.0)],
                               "user_id long, ts timestamp, "
                               "event_id long, value double")
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValueError, match="alpha"):
            ema_smooth(df, "ts", "value", by=["user_id"], alpha=bad)
    # alpha=1.0 degenerates to the value itself
    out = ema_smooth(df, "ts", "value", by=["user_id"],
                     alpha=1.0).collect()
    assert out[0]["ema"] == 1.0


def test_rolling_agg_matches_pandas(spark):
    """Trailing range-window rolling aggregates must equal pandas'
    time-based rolling (closed='both' ~ inclusive frame ends),
    including duplicate-timestamp peers aggregating together."""
    import pandas as pd

    from tablite_spark.operators.timeseries import rolling_agg
    rows = [
        (1, _ts(0), 10.0), (1, _ts(5), 20.0), (1, _ts(5), 30.0),
        (1, _ts(11), 40.0), (1, _ts(30), 50.0),
        (2, _ts(2), 5.0), (2, _ts(3), 7.0),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    out = rolling_agg(df, "ts", "v", ["k"], "10 seconds",
                      funcs=("avg", "count", "sum"))
    got = {(r["k"], r["ts"], r["v"]): (r["roll_avg"], r["roll_count"],
                                       r["roll_sum"])
           for r in out.collect()}
    pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
    for (k, ts, v), (avg, cnt, s) in got.items():
        win = pdf[(pdf.k == k) & (pdf.ts <= ts)
                  & (pdf.ts >= ts - pd.Timedelta(seconds=10))]
        assert cnt == len(win)
        assert abs(s - win.v.sum()) < 1e-9
        assert abs(avg - win.v.mean()) < 1e-9
    # duplicate timestamps are peers: BOTH t=5 rows see both values
    assert got[(1, _ts(5), 20.0)] == got[(1, _ts(5), 30.0)]


def test_rolling_agg_rejects_calendar_units(spark):
    from tablite_spark.operators.timeseries import rolling_agg
    df = spark.createDataFrame([(1, _ts(0), 1.0)],
                               "k int, ts timestamp, v double")
    import pytest
    with pytest.raises(ValueError, match="fixed-length"):
        rolling_agg(df, "ts", "v", ["k"], "1 month")


def test_state_intervals_gaps_and_islands(spark):
    """Consecutive same-state runs collapse; a revisited state after
    an interruption starts a NEW interval; valid_to chains to the
    next interval's start (NULL for the open interval)."""
    from tablite_spark.operators.timeseries import state_intervals
    rows = [
        (1, "new", _ts(0)), (1, "new", _ts(10)),
        (1, "active", _ts(20)), (1, "new", _ts(30)),
        (1, "new", _ts(40)),
        (2, "active", _ts(5)),
    ]
    df = spark.createDataFrame(rows, "k int, state string, ts timestamp")
    out = sorted(((r["k"], r["state"], r["valid_from"], r["valid_to"],
                   r["n_obs"]) for r in
                  state_intervals(df, "k", "state", "ts").collect()))
    assert out == [
        (1, "active", _ts(20), _ts(30), 1),
        (1, "new", _ts(0), _ts(20), 2),
        (1, "new", _ts(30), None, 2),
        (2, "active", _ts(5), None, 1),
    ]


_ROLL_FUNCS = ("avg", "min", "max", "sum", "count")


def _duck_rolling(pdf, by, span):
    """DuckDB's RANGE frame over ``pdf`` — the reference rolling_agg
    must equal. A NULL-ts row has no frame (DuckDB would give the
    NULL-ts rows a peer frame of each other)."""
    from duck_oracle import duck
    part = f"PARTITION BY {', '.join(by)}" if by else ""
    aggs = ", ".join(
        f"CASE WHEN ts IS NULL THEN NULL ELSE {f}(v) OVER w END AS roll_{f}"
        for f in _ROLL_FUNCS)
    got = duck(f"""SELECT rid, {aggs} FROM t
                   WINDOW w AS ({part} ORDER BY ts RANGE BETWEEN
                                INTERVAL {span} PRECEDING AND CURRENT ROW)""",
               t=pdf)
    return {r[0]: tuple(None if x != x else x for x in r[1:])
            for r in got.astype(object).itertuples(index=False)}


def _assert_rolls_equal(got, want):
    assert set(got) == set(want)
    for rid in want:
        for x, y in zip(got[rid], want[rid]):
            if x is None or y is None:
                assert x == y, (rid, got[rid], want[rid])
            else:
                assert abs(x - y) < 1e-9, (rid, got[rid], want[rid])


def _rolls(df, by, window):
    from tablite_spark.operators.timeseries import rolling_agg
    return {r["rid"]: tuple(r[f"roll_{f}"] for f in _ROLL_FUNCS)
            for r in rolling_agg(df, "ts", "v", by, window,
                                 funcs=_ROLL_FUNCS).collect()}


def test_rolling_agg_kernel_equals_duckdb_window(spark):
    """The kernel equals DuckDB's RANGE window (to 1e-9) — including
    null values, duplicate timestamps, all-null frames, a null group
    key and null-timestamp rows, grouped and ungrouped."""
    import random

    import pandas as pd
    rnd = random.Random(42)
    rows = []
    for i in range(400):
        k = rnd.choice([1, 2, 3, None])
        v = None if rnd.random() < 0.2 else round(rnd.uniform(-5, 5), 3)
        rows.append((i, k, _ts(rnd.randrange(2), rnd.randrange(60)), v))
    rows += [(400, 1, None, 1.0), (401, None, None, 2.0)]
    df = spark.createDataFrame(
        rows, "rid int, k int, ts timestamp, v double").repartition(7)
    pdf = pd.DataFrame(rows, columns=["rid", "k", "ts", "v"])
    for by in (["k"], []):
        got = _rolls(df, by, "30 seconds")
        assert len(got) == 402
        _assert_rolls_equal(got, _duck_rolling(pdf, by, "30 SECOND"))


def test_path_ngrams_reference(spark):
    """Top path n-grams must equal a pure-python sliding-window
    replay; null states excluded; ties rank by path string."""
    from tablite_spark.operators.timeseries import path_ngrams
    rows = [
        (1, _ts(0), "a"), (1, _ts(1), "b"), (1, _ts(2), "c"),
        (1, _ts(3), "a"), (1, _ts(4), "b"),
        (2, _ts(0), "a"), (2, _ts(1), "b"), (2, _ts(2), "c"),
        (3, _ts(0), "x"), (3, _ts(1), None), (3, _ts(2), "y"),
        (4, _ts(0), "only"),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, s string")
    got = [(r["path"], r["n_occurrences"], r["rank"]) for r in
           path_ngrams(df, "k", "s", "ts", n=2, k=10).collect()]
    seqs = {}
    for k in (1, 2, 3):
        states = [s for kk, _, s in rows if kk == k]
        for i in range(len(states) - 1):
            if states[i] is None or states[i + 1] is None:
                continue   # a null state BREAKS the chain
            p = f"{states[i]} -> {states[i + 1]}"
            seqs[p] = seqs.get(p, 0) + 1
    want = sorted(seqs.items(), key=lambda kv: (-kv[1], kv[0]))
    want = [(p, c, i + 1) for i, (p, c) in enumerate(want)]
    assert got == want
    assert ("a -> b", 3, 1) == got[0]
    # the null state must not fabricate an 'x -> y' path
    assert not any(p == "x -> y" for p, _, _ in got)


def test_rolling_sum_immune_to_prefix_cancellation(spark):
    """Frame sums must NOT be computed by prefix-sum differencing:
    a huge cancelling head (±1e15) would poison every later frame's
    sum with ~0.1-magnitude error. The compensated time-rolling
    kernel keeps per-frame error at machine epsilon of the frame."""
    import datetime as dt

    from tablite_spark.operators.timeseries import rolling_agg
    t0 = dt.datetime(2024, 1, 1)
    rows = [("k", t0, 1e15),
            ("k", t0 + dt.timedelta(minutes=1), -1e15)]
    tail_t = [t0 + dt.timedelta(hours=1, minutes=i)
              for i in range(30)]
    rows += [("k", t, 0.1) for t in tail_t]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = rolling_agg(df, "ts", "v", ["k"], "10 minutes",
                      funcs=("sum", "avg", "count"))
    got = {r["ts"]: (r["roll_sum"], r["roll_count"])
           for r in out.collect()}
    lo = dt.timedelta(minutes=10)
    for t in tail_t:
        frame = [0.1 for t2 in tail_t if t - lo <= t2 <= t]
        assert got[t][1] == len(frame)
        assert abs(got[t][0] - sum(frame)) < 1e-9, (t, got[t])


def test_rolling_agg_ungrouped_distributed(spark):
    """by=[] must (a) equal DuckDB's un-partitioned RANGE window,
    (b) keep every input row exactly once (halo duplicates
    discarded), and (c) NOT funnel the series through one task — the
    plan buckets the time axis (__bkt__ halo shuffle) instead of
    coalesce(1)/global window."""
    import random

    import pandas as pd

    from tablite_spark.operators.timeseries import rolling_agg
    rnd = random.Random(11)
    rows = []
    for i in range(500):
        v = None if rnd.random() < 0.15 else round(rnd.uniform(-9, 9), 3)
        # 2 hours of data -> many 4x15-minute halo buckets
        ts = _ts(0) + dt.timedelta(seconds=rnd.randrange(7200))
        rows.append((i, ts, v))
    df = spark.createDataFrame(
        rows, "rid int, ts timestamp, v double").repartition(5)
    got = _rolls(df, [], "15 minutes")
    assert len(got) == 500
    _assert_rolls_equal(got, _duck_rolling(
        pd.DataFrame(rows, columns=["rid", "ts", "v"]), [], "15 MINUTE"))
    plan = rolling_agg(df, "ts", "v", [], "15 minutes") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "__bkt__" in plan
    assert "Coalesce 1" not in plan


def test_rolling_agg_null_timestamp_rows(spark):
    """A NULL-timestamp row has no frame: all rolling outputs NULL,
    and it never contributes to any other row's frame — grouped and
    ungrouped (a RANGE window would give the NULL-ts rows a peer
    frame of each other)."""
    import pandas as pd
    rows = [(0, "k", _ts(0), 5.0), (1, "k", None, 100.0),
            (2, "k", _ts(0, 30), 7.0), (3, "k", None, 200.0)]
    df = spark.createDataFrame(rows, "rid int, k string, ts timestamp, v double")
    pdf = pd.DataFrame(rows, columns=["rid", "k", "ts", "v"])
    for by in (["k"], []):
        out = _rolls(df, by, "1 minutes")
        _assert_rolls_equal(out, _duck_rolling(pdf, by, "1 MINUTE"))
        # (avg, min, max, sum, count)
        assert out[1] == out[3] == (None,) * 5, by
        assert out[0][3:] == (5.0, 1) and out[2][3:] == (12.0, 2), by


def test_time_weighted_avg_hand(spark):
    """TWAP weights each value by its holding time to the next
    observation; the last observation carries no weight; single-
    observation and zero-span keys are omitted; NULL ts/value rows
    are excluded; duplicate timestamps resolve by tiebreak (a
    zero-length segment contributes nothing either way)."""
    from tablite_spark.operators.timeseries import time_weighted_avg
    rows = [
        # key a: 10 held 60 s, 20 held 30 s, 99 unweighted (last)
        ("a", _ts(0), 1, 10.0),
        ("a", _ts(1), 2, 20.0),
        ("a", _ts(1, 30), 3, 99.0),
        # key b: single observation -> omitted
        ("b", _ts(0), 4, 5.0),
        # key c: two obs at the SAME instant -> zero span, omitted
        ("c", _ts(2), 5, 1.0), ("c", _ts(2), 6, 2.0),
        # key d: NULL value row excluded entirely
        ("d", _ts(0), 7, 3.0), ("d", _ts(1), 8, None),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, eid int, v double")
    out = {r["k"]: r.asDict() for r in
           time_weighted_avg(df, ["k"], "ts", "v",
                             tiebreak="eid").collect()}
    assert set(out) == {"a"}
    a = out["a"]
    assert a["n_obs"] == 3 and a["span_s"] == 90.0
    assert abs(a["twa"] - (10.0 * 60 + 20.0 * 30) / 90) < 1e-12
    with pytest.raises(ValueError, match="grouping keys"):
        time_weighted_avg(df, [], "ts", "v")


def test_nelson_aalen_hand(spark):
    """H(t) = Σ d/n over event times; censored rows hold n_at_risk
    until their duration then leave without an event; censor-only
    times emit no row."""
    from tablite_spark.operators.stats import nelson_aalen
    # durations: events at 1 (d=2of6), censor at 2 (n drops), event
    # at 3 (d=1of3), event at 5 (d=2of2)
    rows = [(1.0, True), (1.0, True), (2.0, False), (3.0, True),
            (5.0, True), (5.0, True), (None, True), (4.0, None)]
    df = spark.createDataFrame(rows, "t double, obs boolean")
    out = {r["duration"]: r.asDict() for r in
           nelson_aalen(df, "t", "obs").collect()}
    assert set(out) == {1.0, 3.0, 5.0}
    assert (out[1.0]["n_at_risk"], out[1.0]["n_events"]) == (6, 2)
    assert (out[3.0]["n_at_risk"], out[3.0]["n_events"]) == (3, 1)
    assert (out[5.0]["n_at_risk"], out[5.0]["n_events"]) == (2, 2)
    assert abs(out[1.0]["cumhaz"] - 2 / 6) < 1e-12
    assert abs(out[3.0]["cumhaz"] - (2 / 6 + 1 / 3)) < 1e-12
    assert abs(out[5.0]["cumhaz"] - (2 / 6 + 1 / 3 + 1.0)) < 1e-12


def test_fit_apply_scale_empty_train_is_empty(spark, tmp_path):
    """r13 ADVICE pin: when NO event precedes the 2024-01-15 training
    cutoff, the fit frame must be EMPTY on both engines — Spark's
    all-NULL agg row is filtered out, matching the oracle's zero-row
    `FROM base, fit` cross join — instead of emitting per-event-type
    rows with NULL z-scores."""
    from __spark_entry__ import fit_apply_scale_events
    rows = [(i, "view", dt.datetime(2024, 2, 1 + i), float(i + 1))
            for i in range(4)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, "
              "value double")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    assert fit_apply_scale_events(spark, str(tmp_path)).count() == 0
    # and with one pre-cutoff batch the guard must NOT bite
    rows2 = rows + [(9 + i, "view", dt.datetime(2024, 1, 1 + i),
                     float(i)) for i in range(3)]
    df2 = spark.createDataFrame(
        rows2, "event_id long, event_type string, ts timestamp, "
               "value double")
    df2.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = fit_apply_scale_events(spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0]["n"] == 7
    assert out[0]["avg_z"] is not None
