"""Round-10 hash-discipline guards (VERDICT r9 items 1 + 3).

The r9 driver window exposed a class of flake the local sweep could
not see: values numerically equal but representation-different
(DuckDB ``ROUND(x, 4)`` preserves IEEE ``-0.0`` where Spark
``F.round`` canonicalizes to ``+0.0``), passing ``allclose`` yet
failing the driver's hash compare.  These tests pin (a) the strict
compare mode in tools/check_oracle.py that makes the flake die
locally, and (b) that no ``-0.0`` survives in the outputs of the
rounded-float registry queries that can approach zero from below.
"""
import os
import sys

import numpy as np
import pandas as pd
import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tools"))

from check_oracle import compare  # noqa: E402


def test_strict_compare_folds_and_flags_signed_zero():
    a = pd.DataFrame({"x": [0.0, 1.25, -2.5]})
    b = pd.DataFrame({"x": [-0.0, 1.25, -2.5]})
    # default (allclose) mode: -0.0 == 0.0, no problem reported
    assert compare(a, b) == []
    # strict mode: equality still holds after canonicalization, but
    # the bare -0.0 on the duck side is flagged as hash-unstable
    problems = compare(a, b, strict=True)
    assert any("-0.0" in p and "duck" in p for p in problems)
    sa = pd.DataFrame({"x": [-0.0, 1.0]})
    assert any("spark" in p for p in compare(sa, sa.abs(), strict=True))


def test_strict_compare_rejects_sub_tolerance_drift():
    a = pd.DataFrame({"x": [1.0, 2.0]})
    b = pd.DataFrame({"x": [1.0 + 1e-12, 2.0]})
    assert compare(a, b) == []            # inside allclose atol
    assert compare(a, b, strict=True)     # exact mode catches it


def test_strict_compare_nan_and_null_still_equal():
    a = pd.DataFrame({"x": [float("nan"), None, 3.5]})
    b = pd.DataFrame({"x": [float("nan"), None, 3.5]})
    assert compare(a, b, strict=True) == []


def test_spark_round_canonicalizes_negative_zero(spark):
    """The engine-side half of the r9 finding: F.round of a tiny
    negative that rounds to zero must yield +0.0, so canonicalizing
    the oracle side ('ROUND(...) + 0') is sufficient."""
    from pyspark.sql import functions as F
    out = (spark.range(1)
           .select(F.round(F.lit(-1e-9), 4).alias("r"),
                   F.round(F.lit(-0.0), 4).alias("z"))
           .first())
    assert not np.signbit(out["r"]) and not np.signbit(out["z"])


@pytest.mark.parametrize("qname", [
    "pca_covariance_embeddings", "pca_project_embeddings",
    "ab_welch_events", "ema_events",
    # r11 entries whose rounded floats can approach zero from below
    "acf_events", "ols_lineitem",
])
def test_no_negative_zero_in_rounded_query_outputs(spark, qname):
    """No -0.0 may survive in any float column of the registry
    queries whose rounded values can approach zero from below
    (VERDICT r9 item 1 done-criterion). Registry-wide enforcement is
    the strict sweep (SWEEP_r10.json); these are the known-risk
    entries, checked at sf0.001 for speed."""
    import __spark_entry__ as entry
    pdf = entry.queries()[qname](spark, "/root/testdata/sf0.001").toPandas()
    for c in pdf.columns:
        if pd.api.types.is_float_dtype(pdf[c]):
            arr = pdf[c].to_numpy(dtype="float64", na_value=1.0)
            assert not ((arr == 0) & np.signbit(arr)).any(), \
                f"{qname}.{c} contains -0.0"


# --------------------------------------------------------------------
# Round-13 dtype-class guards (VERDICT r12 items 1 + 4).
#
# The r12 driver window went 38/50 on a single root cause: the
# driver's value-hash is TYPED, so a Spark int64 column against a
# DuckDB float64 oracle column (SUM(int) -> HUGEINT -> pandas
# float64) hash-mismatches even when every value is equal. The local
# checker coerced both sides to float64 before comparing, so the
# class was invisible to the 50/50 pre-flight. These tests pin
# (a) the strict-mode dtype-class gate in tools/check_oracle.py and
# (b) CLASS parity of every queries()/oracle_sql() pair at sf0.001 —
# the regression net that keeps wave N+1 from reintroducing the bug.
# --------------------------------------------------------------------

def test_strict_compare_rejects_int_vs_float_class():
    a = pd.DataFrame({"n": pd.array([896, 3], dtype="int64")})
    b = pd.DataFrame({"n": pd.array([896.0, 3.0], dtype="float64")})
    # non-strict (allclose) mode: value-equal, no problem — exactly
    # the blindness that let the 12 r12 reds through
    assert compare(a, b) == []
    problems = compare(a, b, strict=True)
    assert any("dtype-class" in p for p in problems), problems


def test_strict_compare_tolerates_width_and_unit():
    """int32 vs int64 and datetime ns vs us are driver-green (30
    proven rows) — strict mode must NOT flag them."""
    a = pd.DataFrame({
        "n": pd.array([1, 2], dtype="int32"),
        "t": pd.to_datetime(["2024-01-01", "2024-06-01"]),
    })
    b = pd.DataFrame({
        "n": pd.array([1, 2], dtype="int64"),
        "t": pd.to_datetime(["2024-01-01", "2024-06-01"]).astype("datetime64[us]"),
    })
    assert compare(a, b, strict=True) == []


def test_strict_compare_object_date_counts_as_datetime():
    """Spark DATE -> pandas object-of-datetime.date; DuckDB DATE ->
    datetime64[us]. The driver hash historically tolerates this pair
    (stringification coincides), so the gate classes both as
    datetime rather than failing object-vs-datetime."""
    import datetime
    a = pd.DataFrame({"d": [datetime.date(2024, 1, 1), None]})
    b = pd.DataFrame({"d": pd.to_datetime(["2024-01-01", None])})
    problems = [p for p in compare(a, b, strict=True)
                if "dtype-class" in p]
    assert problems == []


@pytest.mark.slow
def test_registry_dtype_class_parity(spark):
    """Walk EVERY queries()/oracle_sql() pair at sf0.001 and assert
    per-column dtype-CLASS equality (int/float/bool/datetime/object;
    width and unit differences allowed). This is the r12 lesson as a
    regression net: a new wave whose oracle says SUM(int) without
    CAST(... AS BIGINT) fails here, not in the driver window."""
    import duckdb

    import __spark_entry__ as entry
    from check_oracle import TABLES, _dtype_class

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    qs, oracles = entry.queries(), entry.oracle_sql()
    offenders, errors = [], []
    for name, fn in qs.items():
        sql = oracles.get(name)
        if sql is None:
            continue
        try:
            spdf = fn(spark, sf).toPandas()
            dpdf = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - collect, report all
            errors.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if sorted(spdf.columns) != sorted(dpdf.columns):
            offenders.append(f"{name}: column sets differ")
            continue
        for c in spdf.columns:
            sc, dc = _dtype_class(spdf[c]), _dtype_class(dpdf[c])
            if sc != dc:
                offenders.append(
                    f"{name}.{c}: spark={spdf[c].dtype}({sc}) "
                    f"duck={dpdf[c].dtype}({dc})")
    assert not errors, "\n".join(errors)
    assert not offenders, "\n".join(offenders)
