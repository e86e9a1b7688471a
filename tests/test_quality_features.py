"""Unit tests for the round-11 third-to-sixth-wave operators
(CUSUM family, expectations/referential audits, feature scaling /
winsorization, weighted quantiles, seasonal screens, Zipf, bigram LM,
PMI, isotonic, gains/PSI/log-rank, ranking metrics, session and
inter-arrival analytics, association rules, Poisson bootstrap) —
hand-computed truths, degenerate inputs, and plan-shape gates."""

import math

import pytest
from pyspark.sql import functions as F

from tablite_spark import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark()


# ------------------------------------------------------------------
# cusum_changepoint
# ------------------------------------------------------------------

def test_cusum_level_shift(spark):
    """10 values of 1.0 then 10 of 5.0: mean 3, the CUSUM walk
    bottoms out exactly at the shift (index 10, S = -20)."""
    from tablite_spark.operators.timeseries import cusum_changepoint
    rows = [(float(i), 1.0 if i < 10 else 5.0) for i in range(20)]
    df = spark.createDataFrame(rows, "t double, x double")
    r = cusum_changepoint(df, "t", "x").collect()[0]
    assert r["n"] == 20 and r["mean"] == 3.0
    assert r["cp_index"] == 10 and r["cp_at"] == 9.0
    assert r["cusum"] == -20.0 and r["cusum_abs"] == 20.0


def test_cusum_duplicate_keys_merge_and_nulls_drop(spark):
    """Duplicate order keys collapse into one census point whose
    joint contribution lands there; NULL t or x rows are excluded."""
    from tablite_spark.operators.timeseries import cusum_changepoint
    rows = [(1.0, 0.0), (1.0, 0.0), (2.0, 6.0),
            (None, 99.0), (3.0, None)]
    df = spark.createDataFrame(rows, "t double, x double")
    r = cusum_changepoint(df, "t", "x").collect()[0]
    # mean 2; S(1)=0+0-2*2=-4, S(2)=6-3*2=0 -> peak at t=1, idx 2
    assert r["n"] == 3 and r["mean"] == 2.0
    assert r["cp_at"] == 1.0 and r["cp_index"] == 2
    assert r["cusum"] == -4.0


def test_cusum_tiebreak_smallest_index(spark):
    """Symmetric walk (+1, -1 alternating from mean): several equal
    |S| peaks — the SMALLEST global index must win."""
    from tablite_spark.operators.timeseries import cusum_changepoint
    rows = [(float(i), 1.0 if i % 2 == 0 else -1.0)
            for i in range(8)]
    df = spark.createDataFrame(rows, "t double, x double")
    r = cusum_changepoint(df, "t", "x").collect()[0]
    # mean 0; S = 1,0,1,0,... -> |S|=1 at indices 1,3,5,7 -> pick 1
    assert r["cp_index"] == 1 and r["cp_at"] == 0.0
    assert r["cusum_abs"] == 1.0


def test_cusum_empty_and_layout_independent(spark):
    from tablite_spark.operators.timeseries import cusum_changepoint
    empty = spark.createDataFrame([], "t double, x double")
    assert cusum_changepoint(empty, "t", "x").count() == 0
    rows = [(float(i), float((i * 7) % 13)) for i in range(200)]
    df = spark.createDataFrame(rows, "t double, x double")
    a = cusum_changepoint(df, "t", "x").collect()[0]
    b = cusum_changepoint(df.repartition(7), "t", "x").collect()[0]
    assert a == b


def test_cusum_no_global_order_window(spark):
    """The prefix sum must never serialize the census onto one task:
    no SinglePartition exchange feeding a Window."""
    from tablite_spark.operators.timeseries import cusum_changepoint
    rows = [(float(i), float(i % 5)) for i in range(500)]
    df = spark.createDataFrame(rows, "t double, x double")
    out = cusum_changepoint(df, "t", "x")
    ex = out._jdf.queryExecution().executedPlan().toString()
    # the scalar argmax agg's 1-row SinglePartition reduce is fine;
    # what must NOT exist is a Window whose child exchange is
    # SinglePartition (= the whole census on one task)
    pos = 0
    while True:
        pos = ex.find("Window", pos)
        if pos == -1:
            break
        assert "Exchange SinglePartition" not in ex[pos:pos + 400], \
            ex[pos:pos + 600]
        pos += 6
    assert "Window" in ex  # the in-bucket running sums exist


# ------------------------------------------------------------------
# expectations
# ------------------------------------------------------------------

def _rules():
    return [
        {"rule": "a_not_null", "column": "a", "check": "not_null"},
        {"rule": "a_min", "column": "a", "check": "min",
         "value": 0},
        {"rule": "a_between", "column": "a", "check": "between",
         "low": 0, "high": 10},
        {"rule": "s_in_set", "column": "s", "check": "in_set",
         "values": ["x", "y"]},
        {"rule": "s_regex", "column": "s", "check": "regex",
         "pattern": "^[a-z]$"},
        {"rule": "a_unique", "column": "a", "check": "unique"},
        {"rule": "a_pos_where", "column": "a", "check": "where",
         "condition": F.coalesce(F.col("a") >= -5, F.lit(False))},
    ]


def test_expectations_hand_counts(spark):
    from tablite_spark.operators.expect import expectations
    rows = [(1, "x"), (2, "y"), (2, "zz"), (-3, "x"),
            (None, "Q"), (15, None)]
    df = spark.createDataFrame(rows, "a int, s string")
    out = {r["rule"]: r for r in
           expectations(df, _rules()).collect()}
    assert all(r["n_rows"] == 6 for r in out.values())
    assert out["a_not_null"]["violations"] == 1
    assert out["a_min"]["violations"] == 1          # -3
    assert out["a_between"]["violations"] == 2      # -3, 15
    assert out["s_in_set"]["violations"] == 2       # zz, Q
    assert out["s_regex"]["violations"] == 2        # zz, Q
    assert out["a_unique"]["violations"] == 1       # dup 2
    # where-rules see three-valued logic through the caller's own
    # coalesce: the NULL a coalesces to False -> 1 violation
    assert out["a_pos_where"]["violations"] == 1
    assert out["a_between"]["pass_rate"] == 4 / 6


def test_expectations_validation_and_empty(spark):
    from tablite_spark.operators.expect import expectations
    df = spark.createDataFrame([], "a int, s string")
    out = expectations(df, _rules()).collect()
    assert len(out) == 7
    assert all(r["violations"] == 0 and r["pass_rate"] is None
               for r in out)
    with pytest.raises(ValueError, match="unknown expectation"):
        expectations(df, [{"rule": "r", "column": "a",
                           "check": "nope"}]).collect()
    with pytest.raises(ValueError, match="duplicate"):
        expectations(df, [{"rule": "r", "column": "a",
                           "check": "not_null"}] * 2)
    with pytest.raises(ValueError, match="at least one"):
        expectations(df, [])


def test_expectations_single_pass_plan(spark):
    """k rules must cost ONE scan and ONE aggregate pair — no join,
    no window, no per-rule scans."""
    from tablite_spark.operators.expect import expectations
    rows = [(i, "x") for i in range(100)]
    df = spark.createDataFrame(rows, "a int, s string")
    out = expectations(df, _rules())
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in ex and "Window" not in ex, ex[:1500]
    assert ex.count("Scan ") <= 1, ex[:1500]


# ------------------------------------------------------------------
# feature_scale
# ------------------------------------------------------------------

def test_feature_scale_zscore_matches_numpy(spark):
    import numpy as np

    from tablite_spark.pipeline.features import feature_scale
    vals = [float((i * 13) % 29) for i in range(100)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, x double")
    out = {r["id"]: r["x_scaled"] for r in
           feature_scale(df, ["x"]).collect()}
    arr = np.array(vals)
    want = (arr - arr.mean()) / arr.std()
    for i in range(100):
        assert abs(out[i] - want[i]) < 1e-12


def test_feature_scale_minmax_and_robust(spark):
    from tablite_spark.pipeline.features import feature_scale
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(11)], "id long, x double")
    mm = {r["id"]: r["x_scaled"] for r in
          feature_scale(df, ["x"], method="minmax").collect()}
    assert mm[0] == 0.0 and mm[10] == 1.0 and mm[5] == 0.5
    rb = {r["id"]: r["x_scaled"] for r in
          feature_scale(df, ["x"], method="robust").collect()}
    # median 5, IQR = 7.5 - 2.5 = 5
    assert rb[5] == 0.0 and rb[10] == 1.0 and rb[0] == -1.0


def test_feature_scale_constant_column_null_and_validation(spark):
    from tablite_spark.pipeline.features import feature_scale
    df = spark.createDataFrame([(i, 3.0) for i in range(5)],
                               "id long, x double")
    for m in ("zscore", "minmax", "robust"):
        out = feature_scale(df, ["x"], method=m).collect()
        assert all(r["x_scaled"] is None for r in out)
    with pytest.raises(ValueError, match="unknown scaling"):
        feature_scale(df, ["x"], method="bogus")


def test_feature_scale_broadcast_stats_plan(spark):
    """The 1-row stats frame must broadcast (never shuffle the row
    side); two scans max (fit + transform)."""
    from tablite_spark.pipeline.features import feature_scale
    df = spark.createDataFrame(
        [(i, float(i), float(i * 2)) for i in range(100)],
        "id long, x double, y double")
    out = feature_scale(df, ["x", "y"])
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in ex or "BroadcastExchange" \
        in ex, ex[:1500]
    assert "SortMergeJoin" not in ex


def test_feature_scale_approx_close_to_exact(spark):
    """exact=False (the 100 TB valve) must land within sketch
    tolerance of the exact robust params."""
    from tablite_spark.pipeline.features import feature_scale
    df = spark.createDataFrame(
        [(i, float(i % 1000)) for i in range(20000)],
        "id long, x double")
    ex = feature_scale(df, ["x"], method="robust").collect()
    ap = feature_scale(df, ["x"], method="robust",
                       exact=False).collect()
    exd = {r["id"]: r["x_scaled"] for r in ex}
    apd = {r["id"]: r["x_scaled"] for r in ap}
    for i in (0, 5000, 19999):
        assert abs(exd[i] - apd[i]) < 0.02


# ------------------------------------------------------------------
# weighted_quantiles / seasonal_anomalies
# ------------------------------------------------------------------

def test_weighted_quantiles_hand(spark):
    """Values 1..4 with weights 1,1,2,4 (W=8): q=.25 -> cw 2 at v=2;
    q=.5 -> v=3 (cw 4); q=.75 -> v=4; q=1 -> max value."""
    from tablite_spark.operators.stats import weighted_quantiles
    rows = [(1.0, 1.0), (2.0, 1.0), (3.0, 2.0), (4.0, 4.0)]
    df = spark.createDataFrame(rows, "v double, w double")
    out = {r["q"]: r["value"] for r in
           weighted_quantiles(df, "v", "w",
                              [0.25, 0.5, 0.75, 1.0]).collect()}
    assert out == {0.25: 2.0, 0.5: 3.0, 0.75: 4.0, 1.0: 4.0}


def test_weighted_quantiles_excludes_and_validates(spark):
    from tablite_spark.operators.stats import weighted_quantiles
    rows = [(1.0, 5.0), (2.0, 0.0), (3.0, -1.0), (None, 4.0),
            (9.0, None)]
    df = spark.createDataFrame(rows, "v double, w double")
    out = weighted_quantiles(df, "v", "w", [0.5]).collect()
    # only (1.0, w=5) survives the w>0 / not-null gate
    assert out[0]["value"] == 1.0
    with pytest.raises(ValueError, match="at least one"):
        weighted_quantiles(df, "v", "w", [])
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        weighted_quantiles(df, "v", "w", [0.0])


def test_weighted_quantiles_matches_exploded_percentile(spark):
    """Weighted quantile over integer weights == lower quantile of
    the weight-exploded series."""
    from tablite_spark.operators.stats import weighted_quantiles
    rows = [(float(v), float(1 + v % 5)) for v in range(200)]
    df = spark.createDataFrame(rows, "v double, w double")
    got = {r["q"]: r["value"] for r in
           weighted_quantiles(df, "v", "w", [0.5, 0.9]).collect()}
    exploded = sorted(
        x for v, w in rows for x in [v] * int(w))
    import math
    for q in (0.5, 0.9):
        # smallest value whose cumulative count >= q*N
        idx = math.ceil(q * len(exploded)) - 1
        assert got[q] == exploded[idx], (q, got[q], exploded[idx])


def test_seasonal_anomalies_hand(spark):
    """Two hourly regimes (hour 1 mean 10, hour 2 mean 50) with one
    planted spike per regime: only the spikes exceed 3 pooled σ."""
    from datetime import datetime

    from tablite_spark.operators.stats import seasonal_anomalies
    rows = []
    for m in range(30):
        rows.append((m, datetime(2024, 1, 1, 1, m), 10.0 + (m % 3)))
        rows.append((100 + m, datetime(2024, 1, 1, 2, m),
                     50.0 + (m % 3)))
    rows.append((999, datetime(2024, 1, 1, 1, 55), 40.0))   # spike
    rows.append((998, datetime(2024, 1, 1, 2, 55), 20.0))   # dip
    df = spark.createDataFrame(rows, "id long, ts timestamp, x double")
    out = seasonal_anomalies(df, "ts", "x", period="hour", k=3.0)
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [998, 999]
    z = {r["id"]: r["z"] for r in out.collect()}
    assert z[999] > 3 and z[998] < -3


def test_seasonal_anomalies_two_scans_and_validation(spark):
    from datetime import datetime

    from tablite_spark.operators.stats import seasonal_anomalies
    rows = [(i, datetime(2024, 1, 1, i % 24, 0), float(i % 7))
            for i in range(500)]
    df = spark.createDataFrame(rows, "id long, ts timestamp, x double")
    out = seasonal_anomalies(df, "ts", "x")
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in ex
    assert "SortMergeJoin" not in ex          # means broadcast
    with pytest.raises(ValueError, match="unknown period"):
        seasonal_anomalies(df, "ts", "x", period="minute")


# ------------------------------------------------------------------
# winsorize / zipf_fit
# ------------------------------------------------------------------

def test_winsorize_clips_and_passes_nulls(spark):
    from tablite_spark.pipeline.features import winsorize
    vals = [float(i) for i in range(1, 100)] + [1000.0, None]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, x double")
    out = {r["id"]: r["x_wins"] for r in
           winsorize(df, ["x"], 0.05, 0.95).collect()}
    assert max(v for v in out.values() if v is not None) < 1000.0
    assert out[100] is None                     # NULL passes through
    assert out[50] == 51.0                      # interior untouched
    with pytest.raises(ValueError, match="lower < upper"):
        winsorize(df, ["x"], 0.9, 0.1)


def test_zipf_fit_recovers_exponent(spark):
    """Counts drawn as round(C * r^-2) over ranks r: the CSN MLE on
    the frequency tail must land near the generating alpha ~2 within
    the known small-sample bias."""
    import math

    from tablite_spark.operators.stats import zipf_fit
    # discrete power law in the FREQUENCY domain: P(f) ∝ f^-2 ->
    # number of items with count f is N/f^2
    rows = []
    item = 0
    for f in range(5, 200):
        for _ in range(max(1, int(100000 / f ** 2))):
            rows.append((f"i{item}", f))
            item += 1
    df = spark.createDataFrame(rows, "tok string, f long")
    r = zipf_fit(df, "f", fmin=5).collect()[0]
    assert 1.8 < r["alpha"] < 2.2, r
    assert r["n_tail"] == len(rows) and r["f_max"] == 199
    with pytest.raises(ValueError, match="fmin"):
        zipf_fit(df, "f", fmin=1)


def test_zipf_single_aggregate_plan(spark):
    from tablite_spark.operators.stats import zipf_fit
    df = spark.createDataFrame([(f"t{i}", i % 50 + 5)
                                for i in range(1000)],
                               "tok string, f long")
    out = zipf_fit(df, "f")
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in ex and "Window" not in ex


# ------------------------------------------------------------------
# bigram_lm_scores
# ------------------------------------------------------------------

def test_bigram_lm_hand_model(spark):
    """Tiny corpus, hand-counted model: doc 2's two bigrams score
    ln(2.5/9) and ln(2.5/5) under k=0.5, V=6; single-token docs
    drop; repeated-token docs count every position."""
    import math

    from tablite_spark.pipeline.text import bigram_lm_scores
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat sat"),
         (3, "single"), (4, "  the   the the  ")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           bigram_lm_scores(df, "text", "doc_id", k=0.5).collect()}
    assert set(out) == {1, 2, 4}
    want2 = (math.log(2.5 / (6 + 3)) + math.log(2.5 / (2 + 3))) / 2
    assert abs(out[2]["avg_logprob"] - want2) < 1e-12
    assert out[2]["n_bigrams"] == 2 and out[4]["n_bigrams"] == 2
    with pytest.raises(ValueError, match="k > 0"):
        bigram_lm_scores(df, "text", "doc_id", k=0.0)


def test_bigram_lm_row_local_pairs_plan(spark):
    """Bigram construction must be row-local (no Window, no
    posexplode self-join): the plan carries joins only for the
    census lookups."""
    from tablite_spark.pipeline.text import bigram_lm_scores
    df = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(50)],
        "doc_id long, text string")
    out = bigram_lm_scores(df, "text", "doc_id")
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in ex


# ------------------------------------------------------------------
# isotonic_calibration / referential_check
# ------------------------------------------------------------------

def test_isotonic_pav_pools_violators(spark):
    """Bin rates .1 .3 .2 .4 (10 rows each): PAV pools the middle
    violating pair to .25; endpoints untouched; output monotone."""
    from tablite_spark.pipeline.evaluation import isotonic_calibration
    rows = []
    for b, pos in enumerate([1, 3, 2, 4]):
        for i in range(10):
            rows.append(((b + 0.5) / 4, i < pos))
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = sorted(isotonic_calibration(df, "s", "y", bins=4)
                 .collect())
    assert [r["calibrated"] for r in out] == [0.1, 0.25, 0.25, 0.4]
    cal = [r["calibrated"] for r in out]
    assert cal == sorted(cal)
    with pytest.raises(ValueError, match="bins"):
        isotonic_calibration(df, "s", "y", bins=0)


def test_isotonic_already_monotone_identity(spark):
    from tablite_spark.pipeline.evaluation import isotonic_calibration
    rows = []
    for b, pos in enumerate([0, 2, 5, 9]):
        for i in range(10):
            rows.append(((b + 0.5) / 4, i < pos))
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = sorted(isotonic_calibration(df, "s", "y", bins=4)
                 .collect())
    assert [r["calibrated"] for r in out] == [r["rate"] for r in out]


def test_referential_check_counts(spark):
    from tablite_spark.operators.expect import referential_check
    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long")
    parent = spark.createDataFrame([(10,), (20,), (20,)], "pk long")
    r = referential_check(child, "fk", parent, "pk").collect()[0]
    assert r["n_rows"] == 4 and r["n_nonnull_fk"] == 3
    assert r["orphans"] == 1                     # fk 99
    assert r["ok_rate"] == 2 / 3
    empty = spark.createDataFrame([], "id long, fk long")
    r0 = referential_check(empty, "fk", parent, "pk").collect()[0]
    assert r0["orphans"] == 0 and r0["ok_rate"] is None


# ------------------------------------------------------------------
# parse_json_column
# ------------------------------------------------------------------

def test_parse_json_inference_and_malformed(spark):
    from tablite_spark.sources.io import parse_json_column
    rows = [(1, '{"a": 1, "b": "x"}'), (2, '{"a": 2}'),
            (3, 'NOT JSON'), (4, None)]
    df = spark.createDataFrame(rows, "id long, j string")
    out = {r["id"]: r for r in
           parse_json_column(df, "j", prefix="p_").collect()}
    assert out[1]["p_a"] == 1 and out[1]["p_b"] == "x"
    assert out[2]["p_a"] == 2 and out[2]["p_b"] is None
    # malformed / NULL payloads -> NULL fields, rows survive
    assert out[3]["p_a"] is None and out[4]["p_a"] is None
    assert len(out) == 4


def test_parse_json_pinned_schema_and_empty(spark):
    from tablite_spark.sources.io import parse_json_column
    df = spark.createDataFrame([(1, '{"a": 7, "zz": 1}')],
                               "id long, j string")
    out = parse_json_column(df, "j", schema="a int").collect()[0]
    assert out["a"] == 7                   # typed by the pinned DDL
    assert "zz" not in out.asDict()        # unpinned fields dropped
    nulls = spark.createDataFrame([(1, None)], "id long, j string")
    with pytest.raises(ValueError, match="no non-null JSON"):
        parse_json_column(nulls, "j")


# ------------------------------------------------------------------
# ranking_metrics
# ------------------------------------------------------------------

def test_ranking_metrics_hand(spark):
    """One query, 4 candidates, relevant at ranked positions 2 and 4:
    DCG = 1/log2(3) + 1/log2(5), IDCG = 1/log2(2) + 1/log2(3),
    MRR = 1/2. A second query with no relevant docs is excluded."""
    import math

    from tablite_spark.pipeline.evaluation import ranking_metrics
    rows = [("q1", 1, 9.0, 0), ("q1", 2, 8.0, 1),
            ("q1", 3, 7.0, 0), ("q1", 4, 6.0, 1),
            ("q2", 5, 5.0, 0), ("q2", 6, 4.0, 0)]
    df = spark.createDataFrame(rows, "q string, id long, s double, rel int")
    r = ranking_metrics(df, "q", "id", "s", "rel", k=10).collect()[0]
    dcg = 1 / math.log2(3) + 1 / math.log2(5)
    idcg = 1 / math.log2(2) + 1 / math.log2(3)
    assert r["n_queries"] == 1
    assert abs(r["ndcg"] - dcg / idcg) < 1e-12
    assert abs(r["mrr"] - 0.5) < 1e-12


def test_ranking_metrics_k_cut_and_ties(spark):
    """k=1 counts only the top hit; score ties break on id ASC so
    the metric is deterministic."""
    from tablite_spark.pipeline.evaluation import ranking_metrics
    rows = [("q", 1, 5.0, 0), ("q", 2, 5.0, 1)]   # tie: id 1 wins
    df = spark.createDataFrame(rows, "q string, id long, s double, rel int")
    r = ranking_metrics(df, "q", "id", "s", "rel", k=1).collect()[0]
    assert r["mrr"] == 0.0 and r["ndcg"] == 0.0
    import pytest as _pt
    with _pt.raises(ValueError, match="k must"):
        ranking_metrics(df, "q", "id", "s", "rel", k=0)


# ------------------------------------------------------------------
# logrank_test / psi_drift / gains_table
# ------------------------------------------------------------------

def test_logrank_identical_groups_zero(spark):
    """Two identical survival curves: O-E folds to 0, chi2 ~ 0;
    wildly different curves give a large chi2."""
    from tablite_spark.operators.stats import logrank_test
    same = [(float(t), True, grp) for grp in (0, 1)
            for t in (1, 2, 3, 4, 5)]
    df = spark.createDataFrame(same, "d double, obs boolean, g int")
    r = logrank_test(df, "d", "obs", "g").collect()[0]
    assert r["n_a"] == 5 and r["n_b"] == 5
    assert r["chi2"] is None or abs(r["chi2"]) < 1e-9
    diff = ([(float(t), True, 0) for t in (1, 2, 3)]
            + [(float(t), True, 1) for t in (10, 11, 12)])
    df2 = spark.createDataFrame(diff, "d double, obs boolean, g int")
    r2 = logrank_test(df2, "d", "obs", "g").collect()[0]
    assert r2["chi2"] > 3.0, r2
    with pytest.raises(ValueError, match="exactly two"):
        logrank_test(df.withColumn("g", F.col("d").cast("int")),
                     "d", "obs", "g")


def test_logrank_censoring_reduces_at_risk(spark):
    """A censored subject leaves the risk set without an event —
    the statistic must differ from the all-observed fixture."""
    from tablite_spark.operators.stats import logrank_test
    rows = [(1.0, True, 0), (2.0, False, 0), (3.0, True, 0),
            (1.5, True, 1), (2.5, True, 1), (3.5, True, 1)]
    df = spark.createDataFrame(rows, "d double, obs boolean, g int")
    r = logrank_test(df, "d", "obs", "g").collect()[0]
    assert r["n_a"] == 3 and r["n_b"] == 3
    assert r["chi2"] is not None


def test_psi_drift_detects_shift(spark):
    from tablite_spark.operators.stats import psi_drift
    base = spark.createDataFrame(
        [(float(i % 100),) for i in range(5000)], "x double")
    same = spark.createDataFrame(
        [(float((i * 7) % 100),) for i in range(5000)], "x double")
    shifted = spark.createDataFrame(
        [(float(i % 100) + 60.0,) for i in range(5000)], "x double")
    lo = psi_drift(base, same, "x").collect()[0]["psi"]
    hi = psi_drift(base, shifted, "x").collect()[0]["psi"]
    assert lo < 0.05 and hi > 0.5, (lo, hi)
    with pytest.raises(ValueError, match="bins"):
        psi_drift(base, same, "x", bins=1)


def test_gains_table_hand(spark):
    """100 rows, score = i/100, positives exactly the top 20 scores:
    band 0 (top decile) captures 10/20, bands 0+1 capture all."""
    from tablite_spark.pipeline.evaluation import gains_table
    rows = [(i / 100.0, i >= 80) for i in range(100)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = {r["band"]: r for r in
           gains_table(df, "s", "y", deciles=10).collect()}
    assert out[0]["pos"] == 10 and out[0]["cum_capture"] == 0.5
    assert out[0]["lift"] == (10 / 10) / (20 / 100)   # 5x
    assert out[1]["cum_capture"] == 1.0
    assert out[9]["cum_capture"] == 1.0
    assert abs(out[9]["lift"] - 1.0) < 1e-12


def test_group_cusum_per_key_shifts(spark):
    """Two keys with shifts at different points: each gets its own
    changepoint; a NULL-keyed row is excluded."""
    from tablite_spark.operators.timeseries import group_cusum
    rows = []
    for i in range(20):
        rows.append(("a", float(i), 1.0 if i < 10 else 5.0))
        rows.append(("b", float(i), 5.0 if i < 5 else 1.0))
    rows.append((None, 0.0, 99.0))
    df = spark.createDataFrame(rows, "g string, t double, x double")
    out = {r["g"]: r for r in
           group_cusum(df, ["g"], "t", "x").collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["cp_index"] == 10 and out["a"]["cp_at"] == 9.0
    assert out["a"]["cusum"] == -20.0
    # key b: mean 2, S_5 = 25 - 2*5 = 15 (the shift point)
    assert out["b"]["cp_index"] == 5 and out["b"]["cp_at"] == 4.0
    assert out["b"]["cusum"] == 15.0
    with pytest.raises(ValueError, match="at least one key"):
        group_cusum(df, [], "t", "x")


def test_column_entropy_hand(spark):
    """Uniform 4-way column: H = ln 4, norm 1; constant column:
    H = 0, norm NULL; one scan for both columns."""
    import math

    from tablite_spark.operators.stats import column_entropy
    rows = [(str(i % 4), "k", None if i % 2 else 1) for i in range(8)]
    df = spark.createDataFrame(rows, "a string, b string, c int")
    out = {r["column"]: r for r in
           column_entropy(df, ["a", "b", "c"]).collect()}
    assert abs(out["a"]["entropy"] - math.log(4)) < 1e-12
    assert abs(out["a"]["norm_entropy"] - 1.0) < 1e-12
    assert out["b"]["entropy"] == 0.0
    assert out["b"]["norm_entropy"] is None
    assert out["c"]["n"] == 4                    # nulls excluded
    ex = column_entropy(df, ["a", "b"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in ex and "Window" not in ex
    with pytest.raises(ValueError, match="at least one column"):
        column_entropy(df, [])


# ------------------------------------------------------------------
# pmi_collocations / session_summary
# ------------------------------------------------------------------

def test_pmi_collocations_hand(spark):
    """'of the' occurs in every doc (common pair of common words ->
    low PMI); 'zx qq' is a rare exclusive pair -> top PMI."""
    import math

    from tablite_spark.pipeline.text import pmi_collocations
    docs = [(i, "of the and of the or of the") for i in range(20)]
    docs += [(100 + i, "zx qq filler") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pmi_collocations(df, "text", k=5, min_count=5).collect()
    # ('qq','filler') and ('zx','qq') share the exact same counts ->
    # identical PMI; the (w1, w2) tiebreak orders qq < zx
    assert [(r["w1"], r["w2"]) for r in out[:2]] == \
        [("qq", "filler"), ("zx", "qq")]
    # exact PMI: N tokens=175, c(pair)=5, c(w)=5 each
    for r in out[:2]:
        assert abs(r["pmi"] - math.log(175 * 5 / 25)) < 1e-12
    with pytest.raises(ValueError, match=">= 1"):
        pmi_collocations(df, "text", k=0)


def test_session_summary_hand(spark):
    """User 1: two sessions (gap > 30 min) entered via view (3
    events, 600s) and click (1 event -> bounce). Exact ratios."""
    from datetime import datetime as dt

    from tablite_spark.operators.timeseries import session_summary
    rows = [(1, dt(2024, 1, 1, 10, 0, 0), "view", 1),
            (1, dt(2024, 1, 1, 10, 5, 0), "click", 2),
            (1, dt(2024, 1, 1, 10, 10, 0), "purchase", 3),
            (1, dt(2024, 1, 1, 12, 0, 0), "click", 4),
            (2, dt(2024, 1, 1, 9, 0, 0), "view", 5)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, "
              "event_id long")
    out = {r["entry_type"]: r for r in
           session_summary(df, "user_id", "ts", "event_type",
                           tiebreak="event_id").collect()}
    assert out["view"]["n_sessions"] == 2      # user1 s1 + user2
    assert out["view"]["bounces"] == 1         # user2's single view
    assert out["view"]["bounce_rate"] == 0.5
    assert out["view"]["avg_events"] == 2.0    # (3 + 1) / 2
    assert out["view"]["avg_duration_s"] == 300.0
    assert out["click"]["n_sessions"] == 1
    assert out["click"]["bounce_rate"] == 1.0


def test_association_rules_hand(spark):
    """Items x,y co-occur in 3 of 4 baskets; z appears once with x.
    supp(x)=4, supp(y)=3, pair (x,y)=3 -> conf 3/4, lift 4*3/12=1;
    duplicate rows collapse; min_support prunes (x,z)."""
    from tablite_spark.operators.frequency import association_rules
    rows = [(1, "x"), (1, "y"), (1, "y"),       # dup collapses
            (2, "x"), (2, "y"),
            (3, "x"), (3, "y"),
            (4, "x"), (4, "z")]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = {(r["a"], r["b"]): r for r in
           association_rules(df, "bk", "it", min_support=2,
                             k=10).collect()}
    assert ("x", "z") not in out                 # support 1 < 2
    r = out[("x", "y")]
    assert r["support"] == 3
    assert r["confidence"] == 3 / 4
    assert r["lift"] == 4 * 3 / (4 * 3)
    # asymmetric confidence: y -> x is 3/3
    assert out[("y", "x")]["confidence"] == 1.0
    with pytest.raises(ValueError, match=">= 1"):
        association_rules(df, "bk", "it", min_support=0)


def test_funnel_within_window(spark):
    """A click 2h after the view converts in the unbounded funnel
    but NOT in the 1h-windowed funnel; an in-window click passes
    both."""
    from datetime import datetime as dt

    from tablite_spark.operators.timeseries import funnel
    rows = [(1, dt(2024, 1, 1, 10, 0), "view"),
            (1, dt(2024, 1, 1, 12, 0), "click"),      # 2h late
            (2, dt(2024, 1, 1, 10, 0), "view"),
            (2, dt(2024, 1, 1, 10, 30), "click")]     # in window
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")
    plain = {r["user_id"]: r for r in
             funnel(df, ["view", "click"]).collect()}
    bound = {r["user_id"]: r for r in
             funnel(df, ["view", "click"],
                    within_seconds=3600).collect()}
    assert plain[1]["t_click"] is not None
    assert bound[1]["t_click"] is None            # window cut it
    assert bound[2]["t_click"] is not None


def test_additive_seasonal_one_scan_grouping_sets(spark):
    """The three factor means must come from ONE scan (GROUPING SETS
    -> Expand), and a planted off-pattern spike is flagged."""
    from datetime import datetime as dt

    from tablite_spark.operators.timeseries import additive_seasonal
    rows = []
    i = 0
    for day in range(1, 15):
        for hour in (3, 9, 15):
            rows.append((i, dt(2024, 1, day, hour, 0),
                         10.0 * hour + (day % 7)))
            i += 1
    rows.append((999, dt(2024, 1, 20, 3, 0), 500.0))   # spike
    df = spark.createDataFrame(rows, "id long, ts timestamp, x double")
    out = additive_seasonal(df, "ts", "x", k=3.0).collect()
    assert [r["id"] for r in out] == [999]
    assert out[0]["z"] > 3
    ex = additive_seasonal(df, "ts", "x") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in ex, ex[:1200]        # GROUPING SETS proof
    assert "Window" not in ex


def test_interarrival_burstiness_signs(spark):
    """Perfectly periodic key -> burstiness -1 (sd 0); a bursty key
    (tight pairs separated by long silences) -> burstiness > 0;
    single-event keys drop."""
    from datetime import datetime as dt, timedelta as td

    from tablite_spark.operators.timeseries import interarrival_stats
    rows = []
    t0 = dt(2024, 1, 1)
    for j in range(10):                      # periodic: every 60s
        rows.append((1, t0 + td(seconds=60 * j), j))
    burst = [0, 1, 2, 3600, 3601, 3602, 7200, 7201, 7202]
    for j, s in enumerate(burst):            # bursty triplets
        rows.append((2, t0 + td(seconds=s), 100 + j))
    rows.append((3, t0, 999))                # single event
    df = spark.createDataFrame(rows,
                               "k long, ts timestamp, event_id long")
    out = {r["k"]: r for r in
           interarrival_stats(df, "k", "ts",
                              tiebreak="event_id").collect()}
    assert set(out) == {1, 2}
    assert out[1]["burstiness"] == -1.0 and out[1]["sd_gap_s"] == 0.0
    assert out[2]["burstiness"] > 0.25
    assert out[1]["n_gaps"] == 9


def test_bootstrap_ci_covers_mean_and_deterministic(spark):
    """The 95% CI must bracket the sample mean and tighten as n
    grows; reruns and repartitionings reproduce the identical
    interval (hash determinism)."""
    from tablite_spark.operators.stats import bootstrap_ci
    small = spark.createDataFrame(
        [(i, float((i * 13) % 100)) for i in range(200)],
        "id long, x double")
    big = spark.createDataFrame(
        [(i, float((i * 13) % 100)) for i in range(5000)],
        "id long, x double")
    rs = bootstrap_ci(small, "x", "id", n_resamples=50).collect()[0]
    rb = bootstrap_ci(big, "x", "id", n_resamples=50).collect()[0]
    assert rs["lo"] < rs["estimate"] < rs["hi"]
    assert rb["lo"] < rb["estimate"] < rb["hi"]
    assert (rb["hi"] - rb["lo"]) < (rs["hi"] - rs["lo"])
    again = bootstrap_ci(small.repartition(7), "x", "id",
                         n_resamples=50).collect()[0]
    assert again == rs
    with pytest.raises(ValueError, match="n_resamples"):
        bootstrap_ci(small, "x", "id", n_resamples=1)
    with pytest.raises(ValueError, match="alpha"):
        bootstrap_ci(small, "x", "id", alpha=1.5)


def test_psi_and_gains_sketch_valves(spark):
    """exact=False (the 100 TB valve) must land within sketch
    tolerance of the exact fits on both operators."""
    from tablite_spark.operators.stats import psi_drift
    from tablite_spark.pipeline.evaluation import gains_table
    base = spark.createDataFrame(
        [(float(i % 1000),) for i in range(20000)], "x double")
    live = spark.createDataFrame(
        [(float((i * 7) % 1000) + 100,) for i in range(20000)],
        "x double")
    pe = psi_drift(base, live, "x").collect()[0]["psi"]
    pa = psi_drift(base, live, "x",
                   exact=False).collect()[0]["psi"]
    assert abs(pe - pa) < 0.05, (pe, pa)
    scored = spark.createDataFrame(
        [(i / 20000, i >= 16000) for i in range(20000)],
        "s double, y boolean")
    ge = {r["band"]: r["cum_capture"] for r in
          gains_table(scored, "s", "y").collect()}
    ga = {r["band"]: r["cum_capture"] for r in
          gains_table(scored, "s", "y", exact=False).collect()}
    for b in ge:
        assert abs(ge[b] - ga.get(b, 0)) < 0.05, (b, ge[b], ga.get(b))


# ------------------------------------------------------------------
# active_users / category_index / quantile_discretize
# ------------------------------------------------------------------

def test_active_users_hand(spark):
    """3 users across 3 days: DAU exact per day; WAU(7) on day 3
    counts everyone active in the trailing week; duplicate events
    per (user, day) count once."""
    from datetime import datetime as dt

    from tablite_spark.operators.timeseries import active_users
    rows = [(1, dt(2024, 1, 1, 9)), (1, dt(2024, 1, 1, 15)),  # dup
            (2, dt(2024, 1, 1, 10)),
            (1, dt(2024, 1, 2, 10)),
            (3, dt(2024, 1, 3, 10))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r["day"].day: r for r in
           active_users(df, "ts", "user_id",
                        windows=(1, 7)).collect()}
    assert out[1]["au_1"] == 2 and out[1]["au_7"] == 2
    assert out[2]["au_1"] == 1 and out[2]["au_7"] == 2
    assert out[3]["au_1"] == 1 and out[3]["au_7"] == 3
    with pytest.raises(ValueError, match="positive"):
        active_users(df, "ts", "user_id", windows=(0,))


def test_category_index_frequency_order(spark):
    from tablite_spark.pipeline.features import category_index
    rows = [("b",), ("b",), ("b",), ("a",), ("a",), ("c",), (None,)]
    df = spark.createDataFrame(rows, "v string")
    out = {r["v"]: r["v_idx"] for r in
           category_index(df, ["v"]).collect()}
    assert out == {"b": 0, "a": 1, "c": 2, None: None}


def test_quantile_discretize_balanced_and_nulls(spark):
    from tablite_spark.pipeline.features import quantile_discretize
    rows = [(float(i),) for i in range(1000)] + [(None,)]
    df = spark.createDataFrame(rows, "x double")
    out = quantile_discretize(df, ["x"], bins=10)
    counts = {r["x_bin"]: r["n"] for r in
              out.groupBy("x_bin").count()
              .withColumnRenamed("count", "n").collect()}
    assert counts[None] == 1
    sizes = [counts[b] for b in range(10)]
    assert sum(sizes) == 1000
    assert max(sizes) - min(sizes) <= 2     # equal-frequency
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in ex                 # row-local cut, no join


def test_active_users_interval_engine_equals_explode(spark, monkeypatch):
    """The interval plan (island deltas + day-census prefix sum)
    must equal the explode plan exactly, including gap days,
    adjacent-island merges, and the stickiness column. The window
    size that picks the plan is moved to run both on one input."""
    import random
    from datetime import datetime as dt, timedelta

    from tablite_spark.operators import timeseries
    rnd = random.Random(5)
    rows = [(rnd.randint(0, 40),
             dt(2024, 1, 1) + timedelta(days=rnd.randint(0, 120),
                                        hours=rnd.randint(0, 23)))
            for _ in range(800)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")

    def run(wins, explode_max):
        monkeypatch.setattr(timeseries, "_EXPLODE_MAX_WINDOW", explode_max)
        return {r["day"]: r.asDict() for r in timeseries.active_users(
            df, "ts", "user_id", windows=wins).collect()}

    for wins in ((1, 7, 28), (1, 45), (2,)):
        assert run(wins, 10**6) == run(wins, 0), wins


def test_association_rules_max_basket_valve(spark):
    """The hot-basket valve drops oversized baskets BEFORE pairing;
    small baskets are untouched, so rules among them survive with
    supports recomputed over the kept baskets only."""
    from tablite_spark.operators.frequency import association_rules
    rows = [(1, "x"), (1, "y"),
            (2, "x"), (2, "y"),
            (3, "x"), (3, "y")]
    # basket 9 is oversized (5 distinct items)
    rows += [(9, f"i{j}") for j in range(5)] + [(9, "x")]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = {(r["a"], r["b"]): r for r in
           association_rules(df, "bk", "it", min_support=2, k=50,
                             max_basket_size=4).collect()}
    assert ("x", "i0") not in out
    r = out[("x", "y")]
    assert r["support"] == 3 and r["confidence"] == 1.0
    # without the valve the oversized basket inflates supp(x) to 4
    full = {(r["a"], r["b"]): r for r in
            association_rules(df, "bk", "it", min_support=2,
                              k=50).collect()}
    assert full[("x", "y")]["confidence"] == 3 / 4
    with pytest.raises(ValueError, match="max_basket_size"):
        association_rules(df, "bk", "it", max_basket_size=1)


# ------------------------------------------------------------------
# round-12 eighth wave: merge_upsert / multi_touch / skew_report
# ------------------------------------------------------------------

def test_merge_upsert_hand(spark):
    """U replaces matched rows and inserts unmatched ones, D deletes
    (and is a no-op on absent keys), seq_col collapses multi-change
    keys to the latest, and untouched base rows pass through."""
    from tablite_spark.operators.merge import merge_upsert
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, amt double")
    changes = spark.createDataFrame(
        [(2, "B", 21.0, "U", 1),     # update
         (3, None, None, "D", 1),    # delete
         (4, "d", 40.0, "U", 1),     # insert
         (5, None, None, "D", 1),    # delete of absent key: no-op
         (1, "a1", 11.0, "U", 1),    # superseded by seq 2
         (1, "a2", 12.0, "U", 2)],
        "k long, name string, amt double, op string, seq int")
    out = {r["k"]: (r["name"], r["amt"]) for r in
           merge_upsert(base, changes, ["k"], seq_col="seq").collect()}
    assert out == {1: ("a2", 12.0), 2: ("B", 21.0), 4: ("d", 40.0)}
    with pytest.raises(ValueError, match="missing columns"):
        merge_upsert(base, changes.drop("amt"), ["k"])
    with pytest.raises(ValueError, match="key column"):
        merge_upsert(base, changes, [])
    # op codes outside {'U','D'} (or NULL) fail loudly instead of
    # silently upserting (r12 ADVICE)
    for bad_op in ("u", "delete", None):
        bad = spark.createDataFrame(
            [(9, "x", 1.0, bad_op, 1)],
            "k long, name string, amt double, op string, seq int")
        with pytest.raises(Exception, match="op must be 'U' or 'D'"):
            merge_upsert(base, bad, ["k"], seq_col="seq").collect()


def test_multi_touch_attribution_hand(spark):
    """Linear = value/k per touch; U-shape = 40/20/40 (k=1 -> 100%,
    k=2 -> 50/50); paths reset at conversions; a conversion with no
    preceding touch lands in the NULL channel at full value."""
    from datetime import datetime as dt, timedelta

    from tablite_spark.operators.timeseries import (
        multi_touch_attribution,
    )
    t0 = dt(2024, 1, 1)
    rows = []
    # user 1: ad, email, ad, buy(100) -> k=3 path
    for i, ch in enumerate(["ad", "email", "ad"]):
        rows.append((1, t0 + timedelta(minutes=i), ch, None))
    rows.append((1, t0 + timedelta(minutes=9), "buy", 100.0))
    # then email, buy(50) -> k=1 second path (reset)
    rows.append((1, t0 + timedelta(minutes=10), "email", None))
    rows.append((1, t0 + timedelta(minutes=11), "buy", 50.0))
    # user 2: buy(70) with no touch -> NULL channel
    rows.append((2, t0, "buy", 70.0))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, value double")
    out = {r["channel"]: r for r in multi_touch_attribution(
        df, "user_id", "ts", "event_type", "value",
        "buy", ["ad", "email"]).collect()}
    # linear: path1 -> ad 2/3*100, email 1/3*100; path2 -> email 50
    assert abs(out["ad"]["linear_value"] - 200 / 3) < 1e-9
    assert abs(out["email"]["linear_value"] - (100 / 3 + 50)) < 1e-9
    # ushape path1 (k=3): first ad 40, mid email 20, last ad 40
    assert abs(out["ad"]["ushape_value"] - 80.0) < 1e-9
    assert abs(out["email"]["ushape_value"] - 70.0) < 1e-9
    assert out[None]["linear_value"] == 70.0
    assert out["ad"]["n_touches"] == 2 and out["email"]["n_touches"] == 2
    # credit conservation: channel credits sum to total converted value
    tot = sum(r["linear_value"] for r in out.values())
    assert abs(tot - 220.0) < 1e-9
    tot_u = sum(r["ushape_value"] for r in out.values())
    assert abs(tot_u - 220.0) < 1e-9


def test_skew_report_hand(spark):
    """Counts/shares exact; skew_factor = max/p50; top-k cuts after
    (cnt DESC, key) ordering; NULL keys excluded."""
    from tablite_spark.operators.skew import skew_report
    rows = ([("hot",)] * 6 + [("warm",)] * 3 + [("a",)] + [("b",)]
            + [(None,)])
    df = spark.createDataFrame(rows, "k string")
    out = {r["key"]: r for r in skew_report(df, "k", top_k=3).collect()}
    assert set(out) == {"hot", "warm", "a"}
    r = out["hot"]
    assert (r["rank"], r["cnt"], r["n_rows"], r["n_keys"],
            r["max_cnt"]) == (1, 6, 11, 4, 6)
    assert abs(r["share"] - 6 / 11) < 1e-12
    assert r["p50_cnt"] == 2.0          # counts [1,1,3,6] -> 2.0
    assert abs(r["skew_factor"] - 3.0) < 1e-12
    with pytest.raises(ValueError, match="top_k"):
        skew_report(df, "k", top_k=0)


def test_top_k_per_group_engines_match(spark):
    """Both forms equal the reference row_number window exactly,
    ascending and descending, with NULL order values, a group smaller
    than k, a NULL key and a global cut (keys=[]). Plan gate: the
    salted form is two Window operators over two hash exchanges
    ((keys, partition id), then keys) and no object aggregate."""
    import random
    import re

    from pyspark.sql import Window
    from tablite_spark.operators.groupby import top_k_per_group
    rnd = random.Random(9)
    # ~10% NULL order values: asc() puts nulls FIRST, desc() LAST
    rows = [(i, rnd.choice(["a", "b", "c", None]),
             None if rnd.random() < 0.1
             else float(rnd.randint(0, 20))) for i in range(500)]
    rows += [(1000, "tiny", 5.0)]           # group smaller than k
    rows += [(1001, "allnull", None), (1002, "allnull", None)]
    df = spark.createDataFrame(
        rows, "rid long, g string, v double").repartition(7)
    for asc in (False, True):
        order = [F.col("v").asc() if asc else F.col("v").desc(),
                 F.col("rid").asc()]
        for keys in (["g"], []):
            w = Window.partitionBy(*keys or [F.lit(1)]).orderBy(*order)
            want = {(r["g"], r["rid"]): r["rank"] for r in
                    df.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= 3).collect()}
            assert len(want) == (3 * 4 + 1 + 2 if keys else 3)
            for eng in ("window", "salted"):
                got = top_k_per_group(df, keys, order, 3, engine=eng)
                assert got.columns == df.columns + ["rank"]
                got = {(r["g"], r["rid"]): r["rank"]
                       for r in got.collect()}
                assert got == want, (asc, keys, eng)
    plan = (top_k_per_group(df, ["g"], [F.col("v").desc()], 3,
                            engine="salted")
            ._jdf.queryExecution().executedPlan().toString())
    assert len(re.findall(r"\bWindow \[", plan)) == 2, plan
    assert plan.lower().count("hashpartitioning") == 2, plan
    assert "ObjectHashAggregate" not in plan, plan
    with pytest.raises(ValueError, match="k must"):
        top_k_per_group(df, ["g"], [F.col("v")], 0)
    with pytest.raises(ValueError, match="engine"):
        top_k_per_group(df, ["g"], [F.col("v")], 3, engine="nope")


def test_char_entropy_hand(spark):
    """Code-point census via '[^\\n]': \\n excluded but \\r and the
    unicode line terminators COUNT (the class both JVM regex and RE2
    read identically — Java '.' drops \\r/NEL/LS/PS, RE2 '.' keeps
    them, so '.' is not oracle-safe); unicode counts one per code
    point; H = ln n - Σ c·ln c / n; empty/NULL text docs are
    omitted."""
    import math

    from tablite_spark.pipeline.text import char_entropy
    df = spark.createDataFrame(
        [(1, "aab"), (2, "aaaa"), (3, "a\nb"), (4, ""), (5, None),
         (6, "héé"), (7, "a\rb"), (8, "a\u2028b\u0085c")],
        "doc_id int, text string")
    out = {r["doc_id"]: r.asDict() for r in
           char_entropy(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3, 6, 7, 8}
    assert (out[1]["n_chars_counted"],
            out[1]["n_distinct_chars"]) == (3, 2)
    h_aab = math.log(3) - (2 * math.log(2) + 1 * math.log(1)) / 3
    assert abs(out[1]["entropy"] - h_aab) < 1e-12
    assert out[2]["entropy"] == 0.0          # single symbol
    # newline dropped: 'a\nb' counts 2 chars, entropy ln 2
    assert out[3]["n_chars_counted"] == 2
    assert abs(out[3]["entropy"] - math.log(2)) < 1e-12
    # unicode é is ONE code point
    assert (out[6]["n_chars_counted"],
            out[6]["n_distinct_chars"]) == (3, 2)
    # \r COUNTS (CRLF corpora must census identically to the DuckDB
    # oracle, whose RE2 '.'-class keeps \r): 'a\rb' is 3 chars, and
    # the same parity holds against duckdb's regexp_extract_all
    assert (out[7]["n_chars_counted"],
            out[7]["n_distinct_chars"]) == (3, 3)
    # unicode LS ( ) and NEL () also count
    assert out[8]["n_chars_counted"] == 5
    import duckdb
    for doc_id, doc in ((7, "a\rb"), (8, "a\u2028b\u0085c"),
                        (3, "a\nb")):
        n_duck = duckdb.execute(
            "SELECT len(regexp_extract_all(?, '[^' || chr(10) || ']'))",
            [doc]).fetchone()[0]
        assert n_duck == out[doc_id]["n_chars_counted"], (
            doc, n_duck, out[doc_id]["n_chars_counted"])


def test_item_cosine_hand(spark):
    """cos(a,b) = co/sqrt(s_a*s_b) over basket incidence; set
    semantics collapse duplicate (basket, item) rows; min_support
    floors pairs; top_k ranks (cosine DESC, b); the basket valve
    drops oversized carts before pairing."""
    import math

    from tablite_spark.operators.frequency import item_cosine
    rows = [  # baskets: {1: AB, 2: AB, 3: AC, 4: A}, dup (1,A)
        (1, "A"), (1, "A"), (1, "B"), (2, "A"), (2, "B"),
        (3, "A"), (3, "C"), (4, "A"),
        # oversized cart (3 items, cap 2) must not contribute pairs
        (9, "A"), (9, "B"), (9, "C"),
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    out = {(r["a"], r["b"]): r for r in
           item_cosine(df, "bk", "it", min_support=1, top_k=5,
                       max_basket_size=2).collect()}
    # s_A=4, s_B=2, s_C=1 (capped); co(A,B)=2, co(A,C)=1
    assert abs(out[("A", "B")]["cosine"]
               - 2 / math.sqrt(4 * 2)) < 1e-15
    assert abs(out[("A", "C")]["cosine"]
               - 1 / math.sqrt(4 * 1)) < 1e-15
    assert out[("A", "B")]["rank"] == 1 and out[("A", "C")]["rank"] == 2
    assert ("B", "C") not in out          # only co-occur in basket 9
    # min_support floors the A-C pair
    floored = {(r["a"], r["b"]) for r in
               item_cosine(df, "bk", "it", min_support=2,
                           max_basket_size=2).collect()}
    assert floored == {("A", "B"), ("B", "A")}
    with pytest.raises(ValueError, match="min_support"):
        item_cosine(df, "bk", "it", min_support=0)
    with pytest.raises(ValueError, match="max_basket_size"):
        item_cosine(df, "bk", "it", max_basket_size=1)
