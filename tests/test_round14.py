"""Round-14 unit tests: distributed row-number engine, Mann-Whitney U,
k-fold assignment, dropDuplicatesWithinWatermark TTL semantics, and
the forced-replay exactly-once sink."""

import math
import time

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------
# distributed_row_number
# ------------------------------------------------------------------

def test_distributed_row_number_matches_global(spark):
    """The bucketed rank must equal a plain global row_number over
    the same order, on any input layout."""
    from pyspark.sql import Window

    from tablite_spark.functions.buckets import distributed_row_number
    rows = [((i * 37) % 101, i) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, id long")
    got, n = distributed_row_number(df.repartition(7),
                                    {"r": ["k", "id"]}, n_buckets=8)
    assert n == 500
    truth = df.withColumn(
        "t", F.row_number().over(Window.orderBy("k", "id")))
    j = got.join(truth, ["k", "id"]).collect()
    assert len(j) == 500
    assert all(r["r"] == r["t"] for r in j)


def test_distributed_row_number_ties_and_validation(spark):
    """Heavy ties on the bucket key must still rank deterministically
    through the tiebreak column; no ordering, or an ordering without
    columns, raises."""
    from tablite_spark.functions.buckets import distributed_row_number
    df = spark.createDataFrame([(1, i) for i in range(50)]
                               + [(2, i) for i in range(5)],
                               "k long, id long")
    got, n = distributed_row_number(df, {"r": ["k", "id"]},
                                    n_buckets=4)
    assert n == 55
    by_id = {(r["k"], r["id"]): r["r"] for r in got.collect()}
    assert by_id[(1, 0)] == 1 and by_id[(1, 49)] == 50
    assert by_id[(2, 0)] == 51 and by_id[(2, 4)] == 55
    for orders in ({}, {"r": []}, {"r": ["k"], "s": []}):
        with pytest.raises(ValueError, match="order columns"):
            distributed_row_number(df, orders)


# ------------------------------------------------------------------
# mann_whitney_u
# ------------------------------------------------------------------

def test_mann_whitney_hand(spark):
    """a=[1,2,2,5], b=[2,3]: avg ranks 1, 3,3, 6 -> R_a=13, U_a=3
    (2U=6); tie term = 24; z = (3-4)/sqrt(8/12*(7-24/30))."""
    from tablite_spark.operators.stats import mann_whitney_u
    rows = ([("a", v) for v in (1.0, 2.0, 2.0, 5.0)]
            + [("b", v) for v in (2.0, 3.0)])
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"], r["u_a_x2"]) == (4, 2, 6)
    var = 4 * 2 / 12 * ((6 + 1) - 24 / (6 * 5))
    assert abs(r["z"] - (3 - 4) / math.sqrt(var)) < 1e-12


def test_mann_whitney_degenerate_and_layout(spark):
    """All-tied values -> zero variance -> NULL z (U still exact);
    an empty group raises; repartitioning changes nothing."""
    from tablite_spark.operators.stats import mann_whitney_u
    tied = spark.createDataFrame(
        [("a", 7.0)] * 3 + [("b", 7.0)] * 2, "g string, v double")
    r = mann_whitney_u(tied, "g", "v", "a", "b").collect()[0]
    assert r["u_a_x2"] == 6 and r["z"] is None  # U = n1*n2/2 = 3
    with pytest.raises(ValueError, match="no non-null"):
        mann_whitney_u(tied.filter("g = 'a'"), "g", "v",
                       "a", "b").collect()
    rows = [("a" if i % 3 else "b", float((i * 13) % 7))
            for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v double")
    one = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    two = mann_whitney_u(df.repartition(11), "g", "v",
                         "a", "b").collect()[0]
    assert one == two


def test_mann_whitney_matches_rank_sum_definition(spark):
    """Cross-check 2U against a direct average-rank computation on a
    pseudo-random tied sample."""
    vals = [((i * 29) % 10, "a" if (i * 7) % 3 else "b")
            for i in range(200)]
    from collections import Counter
    pooled = sorted(v for v, _ in vals)
    # average rank per value
    start, avg = {}, {}
    c = Counter(pooled)
    run = 0
    for v in sorted(c):
        avg[v] = run + (c[v] + 1) / 2
        run += c[v]
    ra = sum(avg[v] for v, g in vals if g == "a")
    na = sum(1 for _, g in vals if g == "a")
    u2 = int(2 * ra - na * (na + 1))
    from tablite_spark.operators.stats import mann_whitney_u
    df = spark.createDataFrame([(g, float(v)) for v, g in vals],
                               "g string, v double")
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()[0]
    assert r["u_a_x2"] == u2


# ------------------------------------------------------------------
# kfold_assign
# ------------------------------------------------------------------

def test_kfold_assign_deterministic_and_consistent(spark):
    """Folds are in [0, k), identical across layouts and runs,
    append-consistent (a subset's folds equal the full corpus's),
    salt-sensitive, and k<2 raises. The fold must equal DuckDB's
    md5-mod-k so the oracle is engine-exact."""
    import duckdb

    from tablite_spark.pipeline.sampling import kfold_assign
    df = spark.createDataFrame([(i,) for i in range(400)], "id long")
    out = {r["id"]: r["fold"] for r in
           kfold_assign(df, "id", k=5, salt="s").collect()}
    assert set(out.values()) <= set(range(5))
    again = {r["id"]: r["fold"] for r in
             kfold_assign(df.repartition(13), "id", k=5,
                          salt="s").collect()}
    assert out == again
    sub = {r["id"]: r["fold"] for r in
           kfold_assign(df.filter("id < 100"), "id", k=5,
                        salt="s").collect()}
    assert all(out[i] == sub[i] for i in sub)
    other = {r["id"]: r["fold"] for r in
             kfold_assign(df, "id", k=5, salt="t").collect()}
    assert out != other
    with pytest.raises(ValueError, match="k >= 2"):
        kfold_assign(df, "id", k=1)
    duck = dict(duckdb.execute(
        "SELECT i, CAST(CAST(('0x' || substring(md5('s' || CAST(i AS "
        "VARCHAR)), 1, 15)) AS UBIGINT) % 5 AS INT) "
        "FROM range(400) t(i)").fetchall())
    assert all(out[i] == duck[i] for i in out)


# ------------------------------------------------------------------
# dropDuplicatesWithinWatermark TTL semantics
# ------------------------------------------------------------------

@pytest.mark.slow
def test_stream_dedup_within_watermark_ttl(spark, tmp_path):
    """Pins the three behaviors that make
    dropDuplicatesWithinWatermark the BOUNDED-state dedup (delay
    30 min):
    - a duplicate whose key state is alive is dropped, across batches;
    - a duplicate arriving after the watermark EVICTED its key's
      state is re-admitted (the bounded-state price, by contract);
    - a row older than the watermark is dropped outright as late.
    Batch plan (the watermark advances to max-seen-ts - 30 min at the
    END of a batch, and state EVICTION also runs at batch end with
    that new watermark — so a key evicted by batch N's close is only
    re-admittable from batch N+1 on; empirically pinned here):
      b0: k1@10:00, adv@12:00 -> both emit; b0's close sets wm=11:30
          but evicts with the PRE-update wm, so k1's state survives b0
      b1: adv@12:00 dup (state alive -> dropped), k2@12:00 (new ->
          emits); b1's close evicts k1 (expiry 10:30 < wm 11:30)
      b2: k1@12:10 (state EVICTED -> re-emitted),
          k2@12:00 dup (state alive: expiry 12:30 > wm -> dropped),
          old@11:00 (< wm 11:30 -> late-dropped)
    Expected emissions: k1 twice, adv once, k2 once, old never."""
    from tablite_spark.streaming.ops import stream_dedup
    batches = [
        [("k1", "2024-01-01 10:00:00"), ("adv", "2024-01-01 12:00:00")],
        [("k2", "2024-01-01 12:00:00"), ("adv", "2024-01-01 12:00:00")],
        [("k1", "2024-01-01 12:10:00"), ("k2", "2024-01-01 12:00:00"),
         ("old", "2024-01-01 11:00:00")],
    ]
    src = str(tmp_path / "src")
    for rows in batches:
        (spark.createDataFrame(rows, "k string, ts string")
         .withColumn("ts", F.to_timestamp("ts"))
         .coalesce(1).write.mode("append").parquet(src))
        time.sleep(1.1)  # distinct mtimes => deterministic order
    stream = (spark.readStream.schema("k string, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .option("latestFirst", "false").parquet(src))
    q = (stream_dedup(stream, ["k"], watermark="30 minutes")
         .writeStream.format("memory").queryName("dd_ttl")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = [(r["k"], str(r["ts"])) for r in
           spark.sql("SELECT * FROM dd_ttl").collect()]
    from collections import Counter
    c = Counter(k for k, _ in out)
    assert c["k1"] == 2, out       # TTL re-admission
    assert c["adv"] == 1, out      # in-state dup dropped
    assert c["k2"] == 1, out       # cross-batch dup dropped
    assert c["old"] == 0, out      # late row dropped
    assert ("k1", "2024-01-01 12:10:00") in out


# ------------------------------------------------------------------
# exactly-once sink forced replay
# ------------------------------------------------------------------

def test_exactly_once_sink_forced_replay(spark, tmp_path):
    """Crash-window simulation: after batch 0 drains, its commit
    marker is deleted (write survived, commit didn't). The restart
    must REPLAY batch 0 from its pinned offsets into the same
    batch_id=0 partition (overwrite, not append) and then process
    batch 1 — zero duplicate rows."""
    import glob
    import os

    from tablite_spark.streaming.ops import exactly_once_parquet_sink
    src = str(tmp_path / "src")
    b0 = [(1, 10.0), (2, 20.0), (3, 30.0)]
    b1 = [(4, 40.0), (5, 50.0)]
    (spark.createDataFrame(b0, "id long, v double")
     .coalesce(1).write.mode("append").parquet(src))

    def run():
        stream = (spark.readStream.schema("id long, v double")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = exactly_once_parquet_sink(
            stream, str(tmp_path / "out"), str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    run()
    first_files = sorted(glob.glob(
        str(tmp_path / "out" / "batch_id=0" / "part-*")))
    assert first_files, "batch 0 must have landed"
    os.remove(str(tmp_path / "ckpt" / "commits" / "0"))
    crc = str(tmp_path / "ckpt" / "commits" / ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    time.sleep(1.1)
    (spark.createDataFrame(b1, "id long, v double")
     .coalesce(1).write.mode("append").parquet(src))
    run()
    got = sorted((r["id"], r["v"]) for r in
                 spark.read.parquet(str(tmp_path / "out")).collect())
    assert got == sorted(b0 + b1)          # replay added NOTHING
    second_files = sorted(glob.glob(
        str(tmp_path / "out" / "batch_id=0" / "part-*")))
    # overwrite replaced the first attempt's files, never sat beside
    assert first_files != second_files and len(second_files) >= 1


# ------------------------------------------------------------------
# grouped_weighted_quantiles
# ------------------------------------------------------------------

def test_grouped_weighted_quantiles_hand(spark):
    """Lower weighted-quantile convention per group: smallest value
    whose cumulative weight reaches q*W; duplicate values merge
    weights; NULL/non-positive weights and NULL values drop;
    validation guards."""
    from tablite_spark.operators.stats import grouped_weighted_quantiles
    rows = [
        # group a: v=1 w=1, v=2 w=3 (2+1), v=10 w=1 -> W=5
        #   q=.5 -> cw>=2.5 first at v=2; q=.9 -> 4.5 -> v=10
        ("a", 1.0, 1), ("a", 2.0, 2), ("a", 2.0, 1), ("a", 10.0, 1),
        # group b: single value
        ("b", 7.0, 4),
        # excluded rows
        ("a", 99.0, 0), ("a", 99.0, None), ("a", None, 5),
    ]
    df = spark.createDataFrame(rows, "g string, v double, w int")
    out = {(r["g"], r["q"]): r["value"] for r in
           grouped_weighted_quantiles(
               df, ["g"], "v", "w", [0.5, 0.9]).collect()}
    assert out[("a", 0.5)] == 2.0 and out[("a", 0.9)] == 10.0
    assert out[("b", 0.5)] == 7.0 and out[("b", 0.9)] == 7.0
    import pytest as _pt
    with _pt.raises(ValueError, match="grouping keys"):
        grouped_weighted_quantiles(df, [], "v", "w", [0.5])
    with _pt.raises(ValueError, match="at least one"):
        grouped_weighted_quantiles(df, ["g"], "v", "w", [])
    with _pt.raises(ValueError, match="in \\(0, 1\\]"):
        grouped_weighted_quantiles(df, ["g"], "v", "w", [1.5])


def test_grouped_weighted_quantiles_matches_explode(spark):
    """The census form must equal the naive explode-the-weights
    percentile (lower convention) on integer weights."""
    from tablite_spark.operators.stats import grouped_weighted_quantiles
    rows = [("g%d" % (i % 3), float((i * 7) % 11), 1 + i % 4)
            for i in range(120)]
    df = spark.createDataFrame(rows, "g string, v double, w int")
    got = {(r["g"], r["q"]): r["value"] for r in
           grouped_weighted_quantiles(
               df, ["g"], "v", "w", [0.25, 0.5, 0.75]).collect()}
    # naive truth on the driver
    from collections import defaultdict
    series = defaultdict(list)
    for g, v, w in rows:
        series[g].extend([v] * w)
    for g, vals in series.items():
        vals.sort()
        n = len(vals)
        for q in (0.25, 0.5, 0.75):
            # smallest value with cum count >= q*n
            import math as _m
            idx = _m.ceil(q * n) - 1
            assert got[(g, q)] == vals[idx], (g, q)


# ------------------------------------------------------------------
# event-time-timeout sessionizer
# ------------------------------------------------------------------

def test_streaming_session_timeout_paths(spark, tmp_path):
    """The two emission paths must split exactly: an interior
    session (superseded by a later same-key event past the gap)
    emits on the DATA path even with no watermark movement, while a
    trailing session emits ONLY when the event-time timeout fires —
    a drain without sentinel batches must not contain it, and a
    drain with them must."""
    from tablite_spark.streaming.ops import streaming_session_timeout
    rows0 = [(1, "2024-01-01 10:00:00", "view"),
             (1, "2024-01-01 10:10:00", "purchase"),
             (1, "2024-01-01 11:00:00", "view"),   # 50 min gap
             (2, "2024-01-01 10:00:00", "view")]
    sent = [(99, "2024-03-0%d 00:00:00" % (d + 1), "view")
            for d in range(2)]

    def drain(batches, name):
        src = str(tmp_path / name)
        for rows in batches:
            (spark.createDataFrame(
                rows, "user_id long, ts string, event_type string")
             .withColumn("ts", F.to_timestamp("ts"))
             .coalesce(1).write.mode("append").parquet(src))
            time.sleep(1.1)
        stream = (spark.readStream
                  .schema("user_id long, ts timestamp, "
                          "event_type string")
                  .option("maxFilesPerTrigger", 1)
                  .option("latestFirst", "false").parquet(src))
        q = (streaming_session_timeout(stream)
             .writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / ("c" + name)))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(r["user_id"], str(r["session_start"]),
                 r["n_events"], r["purchased"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
                if r["user_id"] != 99}   # sentinel user

    # no sentinels: only u1's INTERIOR session can emit (data path)
    got = drain([rows0], "st_nosent")
    assert got == {(1, "2024-01-01 10:00:00", 2, True)}
    # sentinels advance the watermark -> trailing sessions time out
    got2 = drain([rows0, [sent[0]], [sent[1]]], "st_sent")
    assert got2 == {
        (1, "2024-01-01 10:00:00", 2, True),
        (1, "2024-01-01 11:00:00", 1, False),   # abandoned
        (2, "2024-01-01 10:00:00", 1, False),
    }


def test_session_timeout_batched_emission():
    """r14 optimization: _session_timeout_fn now yields ONE frame per
    invocation instead of one per closed session. Three interior
    sessions of one key arriving in a single micro-batch must all be
    present with exact bounds/counts/flags in the single emitted
    frame (the semantics of the per-session emission, batched)."""
    import pandas as pd

    from tablite_spark.streaming.ops import _session_timeout_fn

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, t):
            self.stored = t

        def getCurrentWatermarkMs(self):
            return 0

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

    ts = pd.to_datetime([
        "2024-01-01 10:00:00", "2024-01-01 10:10:00",   # session 1
        "2024-01-01 11:00:00",                           # session 2
        "2024-01-01 12:00:00", "2024-01-01 12:05:00",   # session 3
        "2024-01-01 13:00:00",                           # open tail
    ])
    pdf = pd.DataFrame({"ts": ts,
                        "event_type": ["view", "purchase", "view",
                                       "view", "view", "view"]})
    st = FakeState()
    out = list(_session_timeout_fn((7,), iter([pdf]), st))
    assert len(out) == 1                      # one frame, not three
    got = {(str(r.session_start), str(r.session_end),
            int(r.n_events), bool(r.purchased))
           for r in out[0].itertuples()}
    assert got == {
        ("2024-01-01 10:00:00", "2024-01-01 10:10:00", 2, True),
        ("2024-01-01 11:00:00", "2024-01-01 11:00:00", 1, False),
        ("2024-01-01 12:00:00", "2024-01-01 12:05:00", 2, False),
    }
    # the open tail lives only in state
    assert st.stored[2] == 1 and not st.stored[3]


# ------------------------------------------------------------------
# triangle_count
# ------------------------------------------------------------------

def test_triangle_count_hand(spark):
    """K4 has 4 triangles, 6 edges, 12 wedges, transitivity 1;
    adding a pendant node adds a wedge-only path; directed dups and
    self-loops canonicalize away."""
    from tablite_spark.pipeline.graph import triangle_count
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (3, 4)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    r = triangle_count(df, "src", "dst").collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) \
        == (5, 7, 4)
    # degrees: 3,3,3,4,1 -> wedges 3+3+3+6+0 = 15
    assert r["n_wedges"] == 15
    assert abs(r["clustering"] - 12 / 15) < 1e-12
    # triangle-free star: 0 triangles, wedges from the hub
    star = spark.createDataFrame([(0, i) for i in range(1, 5)],
                                 "src long, dst long")
    r2 = triangle_count(star, "src", "dst").collect()[0]
    assert r2["n_triangles"] == 0 and r2["n_wedges"] == 6
    assert r2["clustering"] == 0.0


def test_triangle_count_matches_naive(spark):
    """Degree-ordered count equals the naive driver-side census on a
    pseudo-random graph."""
    from itertools import combinations

    from tablite_spark.pipeline.graph import triangle_count
    edges = sorted({(min((i * 7) % 30, (i * 13 + 5) % 30),
                     max((i * 7) % 30, (i * 13 + 5) % 30))
                    for i in range(200)} - {(i, i) for i in range(30)})
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = sum(1 for a, b, c in combinations(sorted(adj), 3)
               if b in adj[a] and c in adj[a] and c in adj[b])
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df, "src", "dst").collect()[0]
    assert r["n_triangles"] == want
    assert r["n_edges"] == len(edges)


# ------------------------------------------------------------------
# incremental matview sink
# ------------------------------------------------------------------

def test_incremental_matview_replay_converges(spark, tmp_path):
    """The served view equals the full batch aggregate after a
    forced batch-0 replay (commit marker deleted between drains) —
    the per-batch partial overwrite makes the replay idempotent and
    the compaction is a pure function of the partials."""
    import os

    from tablite_spark.streaming.ops import incremental_matview_sink
    src = str(tmp_path / "src")
    b0 = [("a", 1), ("a", 2), ("b", 10)]
    b1 = [("a", 4), ("c", 7)]
    (spark.createDataFrame(b0, "k string, v long")
     .coalesce(1).write.mode("append").parquet(src))

    def run():
        stream = (spark.readStream.schema("k string, v long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = incremental_matview_sink(
            stream, ["k"], "v", str(tmp_path / "mv"),
            str(tmp_path / "ckpt"))
        q.awaitTermination(120)

    run()
    got0 = {r["k"]: (r["n"], r["s"]) for r in spark.read.parquet(
        str(tmp_path / "mv" / "serve")).collect()}
    assert got0 == {"a": (2, 3), "b": (1, 10)}
    os.remove(str(tmp_path / "ckpt" / "commits" / "0"))
    crc = str(tmp_path / "ckpt" / "commits" / ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    time.sleep(1.1)
    (spark.createDataFrame(b1, "k string, v long")
     .coalesce(1).write.mode("append").parquet(src))
    run()
    got = {r["k"]: (r["n"], r["s"]) for r in spark.read.parquet(
        str(tmp_path / "mv" / "serve")).collect()}
    assert got == {"a": (3, 7), "b": (1, 10), "c": (1, 7)}


# ------------------------------------------------------------------
# skyline_2d
# ------------------------------------------------------------------

def _brute_skyline(pts):
    """Reference O(n^2) dominance filter over distinct points."""
    s = set(pts)
    out = set()
    for (x, y) in s:
        if not any(qx <= x and qy <= y and (qx < x or qy < y)
                   for (qx, qy) in s):
            out.add((x, y))
    return out


def test_skyline_matches_bruteforce(spark):
    """Random integer clouds (with deliberate x-ties and equal-y
    chains) must match the O(n^2) dominance definition on any
    layout / bucket count."""
    import random

    from tablite_spark.operators.skyline import skyline_2d
    rng = random.Random(14)
    pts = [(rng.randrange(50), rng.randrange(50)) for _ in range(400)]
    pts += [(7, y) for y in range(0, 40, 5)]       # x-tie column
    pts += [(x, 3) for x in range(0, 40, 5)]       # equal-y chain
    df = spark.createDataFrame(pts, "x long, y long").repartition(9)
    got = {(r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()}
    assert got == _brute_skyline(pts)


def test_skyline_edges(spark):
    """Single point, totally-ordered chain (whole chain survives),
    and null axes dropped."""
    from tablite_spark.operators.skyline import skyline_2d
    one = spark.createDataFrame([(5, 5)], "x long, y long")
    assert skyline_2d(one, "x", "y").collect()[0][0:2] == (5, 5)
    chain = spark.createDataFrame(
        [(i, 10 - i) for i in range(10)], "x long, y long")
    assert skyline_2d(chain, "x", "y").count() == 10
    withnull = spark.createDataFrame(
        [(1, None), (None, 1), (2, 2)], "x long, y long")
    assert [tuple(r) for r in
            skyline_2d(withnull, "x", "y").collect()] == [(2, 2)]


# ------------------------------------------------------------------
# grid_radius_join
# ------------------------------------------------------------------

def test_grid_radius_join_matches_bruteforce(spark):
    """Random points (negative coords included, plus exact-boundary
    pairs at dist == r) must match the cross-join truth."""
    import random

    from tablite_spark.operators.spatial import grid_radius_join
    rng = random.Random(41)
    left = [(i, rng.randrange(-100, 100), rng.randrange(-100, 100))
            for i in range(80)]
    right = [(j, rng.randrange(-100, 100), rng.randrange(-100, 100))
             for j in range(60)]
    right.append((999, left[0][1] + 25, left[0][2]))  # dist == r
    r = 25
    ldf = spark.createDataFrame(left, "lid long, x long, y long")
    rdf = spark.createDataFrame(right, "rid long, x long, y long")
    got = {(row["lid_l"], row["rid_r"], row["dist_sq"])
           for row in grid_radius_join(ldf, rdf, r).collect()}
    truth = {(li, rj, (lx - rx) ** 2 + (ly - ry) ** 2)
             for (li, lx, ly) in left for (rj, rx, ry) in right
             if (lx - rx) ** 2 + (ly - ry) ** 2 <= r * r}
    assert got == truth
    assert any(d == r * r for (_, _, d) in got)  # boundary pair kept


def test_grid_radius_join_validation(spark):
    from tablite_spark.operators.spatial import grid_radius_join
    df = spark.createDataFrame([(1, 1, 1)], "id long, x long, y long")
    with pytest.raises(ValueError):
        grid_radius_join(df, df, 0)
    # null coordinates never match
    ldf = spark.createDataFrame([(1, None, 5)], "id long, x long, y long")
    assert grid_radius_join(ldf, df, 10).count() == 0


# ------------------------------------------------------------------
# bfs_hops
# ------------------------------------------------------------------

def _brute_bfs(edges, seeds, max_hops):
    adj = {}
    for (a, b) in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        nxt = {v for u in frontier for v in adj.get(u, ())
               if v not in dist}
        for v in nxt:
            dist[v] = h
        frontier = nxt
    return dist


def test_bfs_hops_matches_bruteforce(spark):
    """Random graph + multi-source seeds: distances equal the
    textbook BFS; unreachable nodes are absent; max_hops truncates."""
    import random

    from tablite_spark.pipeline.graph import bfs_hops
    rng = random.Random(7)
    edges = {(rng.randrange(60), rng.randrange(60))
             for _ in range(90)}
    edges = [(a, b) for (a, b) in edges if a != b]
    edges += [(100, 101), (101, 102)]          # island off the seeds
    seeds = [0, 1, 2]
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    for mh in (1, 3):
        got = {r["node"]: r["hops"]
               for r in bfs_hops(edf, sdf, "src", "dst",
                                 max_hops=mh).collect()}
        assert got == _brute_bfs(edges, seeds, mh)
    assert 100 not in got and 102 not in got


def test_bfs_hops_seed_dedup_and_chain(spark):
    """Duplicate seeds collapse; a path graph gives hops = index."""
    from tablite_spark.pipeline.graph import bfs_hops
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long")
    sdf = spark.createDataFrame([(0,), (0,)], "node long")
    got = {r["node"]: r["hops"]
           for r in bfs_hops(edf, sdf, "src", "dst",
                             max_hops=10).collect()}
    assert got == {i: i for i in range(7)}


# ------------------------------------------------------------------
# HLL sketch
# ------------------------------------------------------------------

def _py_hll(keys, b=10):
    """Pure-python replay of the register contract."""
    import hashlib
    m = 1 << b
    regs = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        reg = h >> 50
        w = h & ((1 << 50) - 1)
        rho = 51 if w == 0 else 51 - w.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def test_hll_register_census_matches_python(spark):
    from tablite_spark.functions.sketches import hll_register_census
    keys = list(range(300)) + [None]
    df = spark.createDataFrame([(k, "g") for k in keys],
                               "k long, g string")
    got = {r["register"]: r["rho"]
           for r in hll_register_census(df, "k", ["g"]).collect()}
    assert got == _py_hll(range(300))


def test_hll_estimate_raw_branch_matches_duckdb(spark):
    """The fixture corpus only ever exercises the linear-counting
    branch (cardinality << 2.5m); this pins the RAW harmonic-mean
    branch cross-engine at 40k distinct keys, where the estimate
    must land within 5% of truth (3 sigma at m=1024 is ~9.7%)."""
    import duckdb

    from tablite_spark.functions.sketches import (hll_estimate,
                                                  hll_oracle_sql,
                                                  hll_register_census)
    n = 40_000
    df = spark.range(n).select(F.col("id").alias("k"),
                               F.lit("g").alias("g"))
    est = hll_estimate(hll_register_census(df, "k", ["g"]), ["g"])
    row = est.collect()[0]
    assert row["v_zero"] == 0 or row["n_present"] > 2560 / 2.5
    assert abs(row["hll_estimate"] / n - 1) < 0.05
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS k, 'g' AS g "
                f"FROM range({n})")
    duck = con.execute(hll_oracle_sql("k", "t", "g")).fetchall()[0]
    assert (duck[1], duck[2], duck[3]) == (row["n_present"],
                                           row["v_zero"],
                                           row["denom_q51"])
    assert duck[4] == row["hll_estimate"]


def test_hll_census_is_mergeable(spark):
    """max-merging two half-corpus censuses equals the full census —
    the property that lets sketches roll up across days/streams."""
    from tablite_spark.functions.sketches import hll_register_census
    a = spark.range(0, 500).select(F.col("id").alias("k"),
                                   F.lit("g").alias("g"))
    b = spark.range(250, 900).select(F.col("id").alias("k"),
                                     F.lit("g").alias("g"))
    full = hll_register_census(a.unionByName(b), "k", ["g"])
    merged = (hll_register_census(a, "k", ["g"])
              .unionByName(hll_register_census(b, "k", ["g"]))
              .groupBy("g", "register")
              .agg(F.max("rho").alias("rho")))
    f = {(r["register"], r["rho"]) for r in full.collect()}
    g = {(r["register"], r["rho"]) for r in merged.collect()}
    assert f == g


# ------------------------------------------------------------------
# bloom_semi_join
# ------------------------------------------------------------------

def test_bloom_semi_join_equals_plain_semi(spark):
    """Exactly the plain left_semi result on random keys (dup rows
    kept, nulls on either side never match, empty build side)."""
    import random

    from tablite_spark.operators.bloomjoin import bloom_semi_join
    rng = random.Random(3)
    big = [(i, rng.randrange(200)) for i in range(500)] + [(999, None)]
    small = [(rng.randrange(300),) for _ in range(40)] + [(None,)]
    bdf = spark.createDataFrame(big, "id long, k long")
    sdf = spark.createDataFrame(small, "k long")
    got = sorted((r["id"], r["k"]) for r in
                 bloom_semi_join(bdf, sdf, "k", "k").collect())
    truth = sorted((r["id"], r["k"]) for r in
                   bdf.join(sdf.distinct(), "k", "left_semi")
                   .select("id", "k").collect())
    assert got == truth and len(got) > 0
    empty = sdf.filter(F.lit(False))
    assert bloom_semi_join(bdf, empty, "k", "k").count() == 0


def test_bloom_semi_join_tiny_filter_forces_fp_path(spark):
    """1 bit/key + 1 hash makes the Bloom filter nearly useless —
    the confirm join must still produce the exact answer (false
    positives really flow through and really get removed)."""
    from tablite_spark.operators.bloomjoin import bloom_semi_join
    bdf = spark.createDataFrame([(i, i % 50) for i in range(300)],
                                "id long, k long")
    sdf = spark.createDataFrame([(7,), (13,)], "k long")
    got = sorted(r["id"] for r in
                 bloom_semi_join(bdf, sdf, "k", "k",
                                 bits_per_key=1,
                                 num_hashes=1).collect())
    truth = sorted(r["id"] for r in
                   bdf.filter(F.col("k").isin(7, 13)).collect())
    assert got == truth


# ------------------------------------------------------------------
# KMV sketch
# ------------------------------------------------------------------

def _py_kmv(vals, k):
    import hashlib
    hs = {int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
          for v in vals}
    return sorted(hs)[:k]


def test_kmv_sketch_matches_python(spark):
    from tablite_spark.functions.sketches import kmv_sketch
    vals = [f"e{i}" for i in range(500)]
    df = spark.createDataFrame([(v, "g") for v in vals] * 2,
                               "entity string, g string")
    got = sorted(r["h"] for r in
                 kmv_sketch(df, "entity", "g", k=64).collect())
    assert got == _py_kmv(vals, 64)


def test_kmv_jaccard_matches_bruteforce(spark):
    """Sketch Jaccard on full sketches (k >= |union|) must equal the
    EXACT Jaccard; on truncated sketches it must equal the python
    replay of the k-smallest-of-union rule."""
    from tablite_spark.functions.sketches import (kmv_jaccard_pairs,
                                                  kmv_sketch)
    a = {f"x{i}" for i in range(120)}
    b = {f"x{i}" for i in range(60, 200)} | {f"y{i}" for i in range(40)}
    rows = [(v, "A") for v in a] + [(v, "B") for v in b]
    df = spark.createDataFrame(rows, "entity string, g string")
    # full sketches: estimate == exact
    sk = kmv_sketch(df, "entity", "g", k=1024)
    r = kmv_jaccard_pairs(sk, "g", k=1024).collect()[0]
    inter, union = len(a & b), len(a | b)
    assert (r["n_union_sketch"], r["n_inter_sketch"]) == (union, inter)
    assert abs(r["kmv_jaccard"] - inter / union) < 1e-6
    # truncated sketches: python replay of the rule
    import hashlib

    def h(v):
        return int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
    k = 32
    ska, skb = set(_py_kmv(a, k)), set(_py_kmv(b, k))
    topu = sorted(ska | skb)[:k]
    want_inter = sum(1 for x in topu if x in ska and x in skb)
    sk2 = kmv_sketch(df, "entity", "g", k=k)
    r2 = kmv_jaccard_pairs(sk2, "g", k=k).collect()[0]
    assert (r2["n_union_sketch"], r2["n_inter_sketch"]) \
        == (len(topu), want_inter)


# ------------------------------------------------------------------
# k_core
# ------------------------------------------------------------------

def _brute_kcore(edges, k):
    from collections import defaultdict
    adj = defaultdict(set)
    for (a, b) in edges:
        adj[a].add(b)
        adj[b].add(a)
    alive = set(adj)
    while True:
        deg = {n: len(adj[n] & alive) for n in alive}
        keep = {n for n in alive if deg[n] >= k}
        if keep == alive:
            return {n: deg[n] for n in alive}
        alive = keep


def test_k_core_matches_bruteforce(spark):
    """Random graph at several k (non-empty core, cascading peel,
    fully-unraveled empty core) must equal simultaneous-peel truth,
    with in-core degrees."""
    import random

    from tablite_spark.pipeline.graph import k_core
    rng = random.Random(11)
    edges = list({(rng.randrange(40), rng.randrange(40))
                  for _ in range(160)})
    edges = [(a, b) for (a, b) in edges if a != b]
    edf = spark.createDataFrame(edges, "src long, dst long")
    for k in (2, 5, 8, 30):
        got = {r["node"]: r["core_degree"]
               for r in k_core(edf, "src", "dst", k=k).collect()}
        assert got == _brute_kcore(edges, k), k


def test_k_core_cascade_and_guard(spark):
    """A path graph at k=2 unravels end-inward one layer per round
    (the multi-round cascade); max_rounds too small must raise, not
    return a non-fixpoint."""
    from tablite_spark.pipeline.graph import k_core
    edges = [(i, i + 1) for i in range(10)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    assert k_core(edf, "src", "dst", k=2).count() == 0
    with pytest.raises(RuntimeError):
        k_core(edf, "src", "dst", k=2, max_rounds=2)
    # a cycle IS its own 2-core
    cyc = edges + [(10, 0)]
    cdf = spark.createDataFrame(cyc, "src long, dst long")
    got = {r["node"]: r["core_degree"]
           for r in k_core(cdf, "src", "dst", k=2).collect()}
    assert got == {i: 2 for i in range(11)}


# ------------------------------------------------------------------
# dbscan_grid
# ------------------------------------------------------------------

def _brute_dbscan(pts, eps, min_pts):
    """Reference replay of the deterministic DBSCAN contract."""
    ids = [p[0] for p in pts]
    xy = {p[0]: (p[1], p[2]) for p in pts}
    nb = {i: {j for j in ids
              if (xy[i][0] - xy[j][0]) ** 2
              + (xy[i][1] - xy[j][1]) ** 2 <= eps * eps}
          for i in ids}
    cores = {i for i in ids if len(nb[i]) >= min_pts}
    parent = {c: c for c in cores}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a
    for c in cores:
        for d in nb[c]:
            if d in cores and d != c:
                ra, rb = find(c), find(d)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    lab = {}
    for c in cores:
        root = find(c)
        lab.setdefault(root, min(x for x in cores if find(x) == root))
    out = {}
    for i in ids:
        if i in cores:
            out[i] = ("core", lab[find(i)])
        else:
            cn = [lab[find(c)] for c in nb[i] if c in cores]
            out[i] = ("border", min(cn)) if cn else ("noise", None)
    return out


def test_dbscan_grid_matches_bruteforce(spark):
    """Random lattice cloud: roles and deterministic min-labels must
    match the union-find replay (cores, borders on multi-cluster
    boundaries, noise)."""
    import random

    from tablite_spark.pipeline.clustering import dbscan_grid
    rng = random.Random(23)
    pts = [(i, rng.randrange(400), rng.randrange(400))
           for i in range(200)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {r["id"]: (r["role"], r["cluster"])
           for r in dbscan_grid(df, "id", "x", "y",
                                eps=30, min_pts=4).collect()}
    want = _brute_dbscan(pts, 30, 4)
    assert got == want
    roles = {v[0] for v in got.values()}
    assert roles == {"core", "border", "noise"}  # all paths hit


# ------------------------------------------------------------------
# CMS sketch
# ------------------------------------------------------------------

def _py_cms(vals, d, w):
    import hashlib
    from collections import Counter
    cells = Counter()
    for v in vals:
        for i in range(d):
            h = int(hashlib.md5(f"{i}:{v}".encode())
                    .hexdigest()[:15], 16)
            cells[(i, h % w)] += 1
    return cells


def test_cms_census_matches_python(spark):
    from tablite_spark.functions.sketches import cms_census
    vals = [f"t{i % 37}" for i in range(400)]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    got = {(r["row"], r["col"]): r["cnt"]
           for r in cms_census(df, "k").collect()}
    assert got == dict(_py_cms(vals, 4, 1024))


def test_cms_overestimates_under_forced_collisions(spark):
    """The registry corpus's top tokens happen to overshoot by 0
    (each has a collision-free cell) — so the OVERESTIMATE path is
    pinned here with w=8: collisions are forced, estimates must
    stay >= exact (one-sided guarantee) and some must exceed it."""
    from tablite_spark.functions.sketches import (cms_census,
                                                  cms_point_estimates)
    from collections import Counter
    vals = [f"k{i % 40}" for i in range(800)] + ["k1"] * 50
    exact = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    cen = cms_census(df, "k", d=2, w=8)
    keys = spark.createDataFrame([(k,) for k in exact], "k string")
    est = {r["k"]: r["cms_est"]
           for r in cms_point_estimates(cen, keys, "k",
                                        d=2, w=8).collect()}
    assert all(est[k] >= exact[k] for k in exact)
    assert any(est[k] > exact[k] for k in exact)
    # python replay of the min-over-rows rule
    cells = _py_cms(set(vals), 0, 8)  # structure only
    cells = _py_cms(vals, 2, 8)
    import hashlib
    for k in exact:
        want = min(cells[(i, int(hashlib.md5(f"{i}:{k}".encode())
                                 .hexdigest()[:15], 16) % 8)]
                   for i in range(2))
        assert est[k] == want, k


def test_cms_census_is_mergeable(spark):
    """Cell-wise SUM of two half-corpus sketches equals the full
    sketch — the streaming/rollup property."""
    from tablite_spark.functions.sketches import cms_census
    a = spark.range(300).select(
        (F.col("id") % 50).cast("string").alias("k"))
    b = spark.range(500).select(
        (F.col("id") % 70).cast("string").alias("k"))
    full = {(r["row"], r["col"]): r["cnt"] for r in
            cms_census(a.unionByName(b), "k").collect()}
    merged = {}
    for part in (a, b):
        for r in cms_census(part, "k").collect():
            key = (r["row"], r["col"])
            merged[key] = merged.get(key, 0) + r["cnt"]
    assert full == merged


# ------------------------------------------------------------------
# hyperball
# ------------------------------------------------------------------

def test_hyperball_tracks_exact_neighborhood_function(spark):
    """On a small random graph the sketched N(h) must stay within
    HLL error (m=64 -> ~13% sigma; assert 35%) of the exact
    neighborhood function from all-pairs BFS, and h=0 must equal
    n * est(singleton) exactly."""
    import random

    from tablite_spark.pipeline.graph import hyperball
    rng = random.Random(5)
    edges = list({(rng.randrange(80), rng.randrange(80))
                  for _ in range(160)})
    edges = [(a, b) for (a, b) in edges if a != b]
    edf = spark.createDataFrame(edges, "src long, dst long")
    nf = dict(hyperball(edf, "src", "dst", max_h=3))
    # exact N(h) by python BFS
    from collections import defaultdict
    adj = defaultdict(set)
    for (a, b) in edges:
        adj[a].add(b)
        adj[b].add(a)
    nodes = set(adj)
    exact = {}
    for h in range(4):
        tot = 0
        for s in nodes:
            ball = {s}
            frontier = {s}
            for _ in range(h):
                frontier = {v for u in frontier
                            for v in adj[u]} - ball
                ball |= frontier
            tot += len(ball)
        exact[h] = tot
    # h=0: every ball is a singleton, so nf is exactly
    # n * round(est(1-element sketch) * 1e6)
    import math
    one = round(64 * math.log(64 / 63.0) * 1e6)
    assert nf[0] == len(nodes) * one
    for h in range(4):
        assert abs(nf[h] / 1e6 / exact[h] - 1) < 0.35, (h, nf, exact)
    # monotone in h
    assert nf[0] <= nf[1] <= nf[2] <= nf[3]


# ------------------------------------------------------------------
# transformWithStateInPandas (environment-gated)
# ------------------------------------------------------------------

def test_transform_with_state_running_totals(spark, tmp_path):
    """Spark 4's new arbitrary-state API (transformWithStateInPandas)
    — running per-key totals whose ValueState crosses a micro-batch
    boundary. SKIPS when google.protobuf is absent: the API's python
    runner speaks protobuf to the JVM, and this container does not
    ship it (verified: the query crashes in runner init with
    'cannot import descriptor from google.protobuf'). The skip is
    the honest marker, exactly like the h5py interop pair."""
    pytest.importorskip("google.protobuf")
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor, StatefulProcessorHandle)
    from pyspark.sql.types import LongType, StructField, StructType

    root = str(tmp_path)
    (spark.range(6).select((F.col("id") % 2).alias("k"),
                           F.col("id").alias("v"))
     .coalesce(1).write.parquet(f"{root}/src/b0"))
    (spark.range(6, 12).select((F.col("id") % 2).alias("k"),
                               F.col("id").alias("v"))
     .coalesce(1).write.parquet(f"{root}/src/b1"))

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.state = handle.getValueState("tot", StructType(
                [StructField("n", LongType()),
                 StructField("s", LongType())]))

        def handleInputRows(self, key, rows, timer_values):
            n, s = (self.state.get() if self.state.exists()
                    else (0, 0))
            for pdf in rows:
                n += len(pdf)
                s += int(pdf["v"].sum())
            self.state.update((n, s))
            yield pd.DataFrame({"k": [key[0]], "n": [n], "s": [s]})

        def close(self):
            pass

    stream = (spark.readStream.schema("k long, v long")
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{root}/src/*"))
    out = stream.groupBy("k").transformWithStateInPandas(
        Totals(),
        StructType([StructField("k", LongType()),
                    StructField("n", LongType()),
                    StructField("s", LongType())]),
        "Update", "None")

    def _write(bdf, bid):
        bdf.write.mode("overwrite").parquet(
            f"{root}/out/batch_id={bid}")

    q = (out.writeStream.foreachBatch(_write)
         .option("checkpointLocation", f"{root}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    res = spark.read.parquet(f"{root}/out")
    final = {r["k"]: (r["n"], r["s"]) for r in
             res.groupBy("k").agg(
                 F.max("n").alias("n"),
                 F.max("s").alias("s")).collect()}
    assert final == {0: (6, 30), 1: (6, 36)}
    # cross-batch proof: each key emitted once per batch, totals rise
    assert res.count() == 4


# ------------------------------------------------------------------
# temporal_bfs
# ------------------------------------------------------------------

def _brute_temporal(edges, seeds, max_hops):
    """edges: (src, dst, t) DIRECTED; seeds: {node: t0}. Earliest
    arrival via <=max_hops simultaneous relaxations."""
    state = dict(seeds)
    for _ in range(max_hops):
        nxt = dict(state)
        for (a, b, t) in edges:
            if a in state and t >= state[a]:
                if b not in nxt or t < nxt[b]:
                    nxt[b] = t
        state = nxt
    return state


def test_temporal_bfs_matches_bruteforce(spark):
    """Random dated graph + the canonical blocking case: B is
    structurally adjacent to A but every edge into B predates A's
    arrival, so B stays unreachable — the semantics plain BFS gets
    wrong."""
    import random

    from tablite_spark.pipeline.graph import temporal_bfs
    rng = random.Random(9)
    edges = [(rng.randrange(30), rng.randrange(30),
              rng.randrange(100)) for _ in range(120)]
    edges = [(a, b, t) for (a, b, t) in edges if a != b]
    edges += [(50, 51, 10), (51, 52, 5)]   # 52 blocked: 5 < 10
    seeds = {0: 0, 50: 0}
    edf = spark.createDataFrame(edges, "src long, dst long, d long")
    sdf = spark.createDataFrame(list(seeds.items()),
                                "node long, t0 long")
    for mh in (1, 3):
        got = {r["node"]: r["arrival"]
               for r in temporal_bfs(edf, sdf, "src", "dst", "d",
                                     max_hops=mh).collect()}
        assert got == _brute_temporal(edges, seeds, mh), mh
    assert 52 not in got and 51 in got  # the blocked node


def test_temporal_bfs_min_merge_refines(spark):
    """A 2-hop path can yield an EARLIER arrival than the 1-hop one
    when a later direct edge exists — the min-merge across rounds."""
    from tablite_spark.pipeline.graph import temporal_bfs
    # seed S(t0=0): direct S->X at t=50; indirect S->Y(t=1)->X(t=2)
    edges = [(0, 9, 50), (0, 1, 1), (1, 9, 2)]
    edf = spark.createDataFrame(edges, "src long, dst long, d long")
    sdf = spark.createDataFrame([(0, 0)], "node long, t0 long")
    h1 = {r["node"]: r["arrival"] for r in
          temporal_bfs(edf, sdf, "src", "dst", "d",
                       max_hops=1).collect()}
    h2 = {r["node"]: r["arrival"] for r in
          temporal_bfs(edf, sdf, "src", "dst", "d",
                       max_hops=2).collect()}
    assert h1[9] == 50 and h2[9] == 2 and h2[0] == 0


# ------------------------------------------------------------------
# personalized_pagerank
# ------------------------------------------------------------------

def _brute_ppr(edges, seeds, iters, d=0.85, unit=10 ** 12):
    nodes = {n for e in edges for n in e}
    outdeg = {}
    for (a, _) in edges:
        outdeg[a] = outdeg.get(a, 0) + 1
    ns = len(seeds)
    rank = {n: (unit // ns if n in seeds else 0) for n in nodes}
    base = math.floor((1.0 - d) * unit / ns)
    for _ in range(iters):
        dang = sum(r for n, r in rank.items()
                   if outdeg.get(n, 0) == 0)
        dshare = math.floor(d * dang / ns)
        contrib = {}
        for (a, b) in edges:
            c = math.floor(rank[a] / outdeg[a])
            contrib[b] = contrib.get(b, 0) + c
        rank = {n: ((base + dshare if n in seeds else 0)
                    + math.floor(d * float(contrib.get(n, 0))))
                for n in nodes}
    return rank


def test_personalized_pagerank_matches_bruteforce(spark):
    """Random directed multigraph + seed restart: trajectory equals
    the python replay exactly (integer micro-units); nodes
    unreachable from seeds hold rank 0; no-seed input raises."""
    import random

    from tablite_spark.pipeline.graph import personalized_pagerank
    rng = random.Random(17)
    edges = [(rng.randrange(25), rng.randrange(25))
             for _ in range(80)]
    edges += [(100, 101), (101, 100)]     # island, seedless
    seeds = [0, 3, 7]
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["rank"]
           for r in personalized_pagerank(
               edf, sdf, "src", "dst", iters=3).collect()}
    assert got == _brute_ppr(edges, set(seeds), 3)
    assert got[100] == 0 and got[101] == 0  # seedless island
    with pytest.raises(ValueError, match="seed"):
        personalized_pagerank(
            edf, sdf.filter(F.lit(False)), "src", "dst")


# ------------------------------------------------------------------
# wave-20 compositions
# ------------------------------------------------------------------

def test_script_mix_partitions_every_codepoint(spark):
    """The four classes must partition any text exactly (including
    the \\x0B vertical tab that named classes disagree on) — the
    chars_other derivation is only valid under that invariant."""
    from tablite_spark.registry.pipeline_docs import script_mix_docs
    rows = [(1, "Abc 12\t3\x0b!?\näöü", "xx", "s", 1)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, "
              "source string, n_chars long")
    df.createOrReplaceTempView("___t")
    # drive the same expressions directly
    from pyspark.sql import functions as F

    def nclass(cls):
        return F.length(F.regexp_replace(F.col("text"),
                                         f"[^{cls}]", ""))
    r = df.select(
        F.length("text").alias("n"),
        nclass("A-Za-z").alias("lat"),
        nclass("0-9").alias("dig"),
        nclass(" \\t\\n\\x0B\\f\\r").alias("wsp")).collect()[0]
    # 15 chars: 3 latin, 3 digits, 4 ws (space/\t/\x0b/\n),
    # 5 other (!, ?, ä, ö, ü)
    assert (r["n"], r["lat"], r["dig"], r["wsp"]) == (15, 3, 3, 4)
    assert r["n"] - r["lat"] - r["dig"] - r["wsp"] == 5  # other


def test_theil_sen_matches_python_median_of_slopes(spark):
    """Registry-shaped Theil-Sen on a hand sample (outlier included:
    the median slope must ignore it where OLS would not)."""
    import statistics

    pts = [(1, 0, 100), (2, 1, 200), (3, 2, 300), (4, 3, 400),
           (5, 4, 90000)]  # gross outlier
    slopes = [(yb - ya) / (xb - xa)
              for i, (ka, xa, ya) in enumerate(pts)
              for (kb, xb, yb) in pts[i + 1:] if xa != xb]
    want = statistics.median(slopes)
    df = spark.createDataFrame(pts, "k long, x long, yc long")
    pairs = (df.alias("a").join(df.alias("b"),
                                F.col("a.k") < F.col("b.k"))
             .filter(F.col("a.x") != F.col("b.x"))
             .select(((F.col("b.yc") - F.col("a.yc"))
                      .cast("double")
                      / (F.col("b.x") - F.col("a.x")))
                     .alias("slope")))
    got = pairs.agg(F.expr("percentile(slope, 0.5)")).collect()[0][0]
    assert abs(got - want) < 1e-9
    assert abs(want - 100) < 1e-9  # the outlier did not move it


# --------------------------------------------------------------------
# r14 optimization round: driver-twin valves (graph fixpoints)
# --------------------------------------------------------------------

def test_graph_driver_valve_parity(spark, monkeypatch):
    """The count-gated driver twins (k_core / bfs_hops /
    temporal_bfs) must return EXACTLY the distributed loops' frames
    — same rows, same values, same dtypes — on a random graph. The
    env knob flips the path; everything else is identical."""
    import random

    from tablite_spark.pipeline.graph import (bfs_hops, k_core,
                                              temporal_bfs)
    rng = random.Random(21)
    edges = sorted({(rng.randrange(40), rng.randrange(40))
                    for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(0,), (7,)], "node long")
    tdf = spark.createDataFrame(
        [(a, b, (a * 7 + b * 3) % 50) for a, b in edges],
        "src long, dst long, d long")
    tsd = spark.createDataFrame([(0, 5), (7, 1)], "node long, t0 long")

    def run():
        return (
            k_core(edf, "src", "dst", k=3),
            bfs_hops(edf, sdf, "src", "dst", max_hops=3),
            temporal_bfs(tdf, tsd, "src", "dst", "d", max_hops=3),
        )

    monkeypatch.setenv("SPARK_GRAFT_GRAPH_DRIVER_EDGES", "2000000")
    valve = run()
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_DRIVER_EDGES", "0")
    dist = run()
    for v, d in zip(valve, dist):
        assert v.schema == d.schema, (v.schema, d.schema)
        assert (sorted(map(tuple, v.collect()))
                == sorted(map(tuple, d.collect())))


def test_graph_driver_valve_edge_cases(spark, monkeypatch):
    """Empty graphs / seeds-off-graph / k_core guard behave
    identically on the valve path."""
    import pytest as _pytest

    from tablite_spark.pipeline.graph import bfs_hops, k_core
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_DRIVER_EDGES", "2000000")
    empty = spark.createDataFrame([], "src long, dst long")
    sdf = spark.createDataFrame([(5,)], "node long")
    # seeds survive at hops 0 even with no edges (distributed keeps
    # the seed frame as the whole dist)
    got = bfs_hops(empty, sdf, "src", "dst", max_hops=2).collect()
    assert [(r["node"], r["hops"]) for r in got] == [(5, 0)]
    assert k_core(empty, "src", "dst", k=2).count() == 0
    # the max_rounds guard fires on the driver path too
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="converge"):
        k_core(path, "src", "dst", k=2, max_rounds=2)
