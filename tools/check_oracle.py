"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables, compares row count, schema
(column names), and order-insensitive values. Usage:

    python tools/check_oracle.py [--json OUT.json] [--strict] [sf_dir] [query ...]

``--strict`` replaces the float tolerance (``allclose(atol=1e-9)``,
under which ``-0.0 == 0.0`` and 1e-12 drift passes) with the driver's
hash discipline: floats are canonicalized (``-0.0`` folded to
``+0.0``) then compared for EXACT value equality — the class of
divergence the r9 driver window exposed on ``pca_covariance``
(DuckDB ``ROUND`` preserves the IEEE sign of a negative that rounds
to zero; Spark ``F.round`` canonicalizes) fails locally instead of
surviving to a driver round.

``--json`` writes the per-query verdicts as a committed artifact
(SWEEP_r0N.json) so a full-registry sweep is auditable, not prose:
{"_sweep": {sf_dir, n_pass, n_fail, n_rows_only},
 "<query>": {"status": "pass|fail|rows_only", "rows": N, "err": ...,
             "pins_left": N}}

Each query and its collect run inside ``plans.lifecycle.scope()``;
``pins_left`` counts the persistent RDDs (and a non-empty
CacheManager) still held afterwards that were not held before. A
nonzero count fails the query.
"""

from __future__ import annotations

import sys
import traceback

sys.path.insert(0, "/root/repo")

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry_mod
from tablite_spark import get_spark
from tablite_spark.plans.lifecycle import scope

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str).replace("NaT", None)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda v: str(list(v)) if isinstance(v, np.ndarray)
                else None if v is None or (not isinstance(v, (list, tuple, dict))
                                           and pd.isna(v)) else str(v))
    pdf = pdf.sort_values(by=list(pdf.columns), na_position="last",
                          kind="mergesort").reset_index(drop=True)
    return pdf


def _dtype_class(s: pd.Series) -> str:
    """Coarse dtype class for the strict gate.

    The driver hash tolerates integer WIDTH (int32/int64) and
    datetime UNIT (ns/us) differences but kills int-vs-float — the
    entire r12 red set. An empty column has no hashable values, so
    its class can't diverge; report it as neutral.
    """
    if len(s) == 0 or s.isna().all():
        return "empty"
    dt = s.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    if dt == object:
        # object columns of date/datetime values (DuckDB DATE ->
        # object of datetime.date) count as datetime class; pure
        # strings/lists stay object.
        import datetime as _dtmod
        sample = s.dropna()
        if len(sample) and all(
                isinstance(v, (_dtmod.date, _dtmod.datetime))
                for v in sample.head(20)):
            return "datetime"
        return "object"
    return str(dt)


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame,
            strict: bool = False) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns spark={scols} duck={dcols}")
        return problems
    if problems:
        return problems
    if strict:
        # dtype-CLASS gate (r12 lesson): the driver's value-hash is
        # typed, so an int64 Spark column against a float64 oracle
        # column (DuckDB SUM(int) -> HUGEINT -> pandas float64)
        # hash-mismatches even when every value is equal — 12 r12
        # driver reds, all value-correct. Width (int32 vs int64) and
        # datetime unit (ns vs us) are tolerated: 30 driver-green
        # rows prove the hash allows them. Fail on any CLASS
        # divergence (int/float/bool/datetime/object) per column.
        for c in sorted(spark_pdf.columns):
            sc, dc = _dtype_class(spark_pdf[c]), _dtype_class(duck_pdf[c])
            if sc != dc:
                problems.append(
                    f"dtype-class mismatch in column {c!r}: "
                    f"spark={spark_pdf[c].dtype}({sc}) "
                    f"duck={duck_pdf[c].dtype}({dc})")
        if problems:
            return problems
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if (pd.api.types.is_numeric_dtype(av) and pd.api.types.is_numeric_dtype(bv)
                and (pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv))):
            av, bv = av.astype("float64"), bv.astype("float64")
            if strict:
                # a bare -0.0 on EITHER side is itself a finding —
                # it is exactly the class the r9 driver window
                # exposed (hash-different, value-equal)
                for side, s in (("spark", av), ("duck", bv)):
                    arr = s.to_numpy()
                    neg0 = int(((arr == 0) & np.signbit(arr)).sum())
                    if neg0:
                        problems.append(
                            f"column {c!r}: {neg0} -0.0 cells on the "
                            f"{side} side (hash-unstable)")
                # driver-hash discipline: fold -0.0 to +0.0 (x + 0.0
                # is the IEEE canonicalization), then EXACT equality
                an = av.to_numpy() + 0.0
                bn = bv.to_numpy() + 0.0
                ok = np.array_equal(an, bn, equal_nan=True)
                av, bv = pd.Series(an), pd.Series(bn)
            else:
                ok = np.allclose(av.fillna(1e300), bv.fillna(1e300),
                                 rtol=0, atol=1e-9, equal_nan=True)
        else:
            ok = av.astype(str).equals(bv.astype(str))
        if not ok:
            diff_idx = None
            try:
                neq = (av.astype(str) != bv.astype(str))
                diff_idx = neq[neq].index[:3].tolist()
            except Exception:
                pass
            sample = ""
            if diff_idx:
                sample = "; ".join(
                    f"row{j}: spark={av.iloc[j]!r} duck={bv.iloc[j]!r}" for j in diff_idx)
            problems.append(f"values differ in column {c!r} {sample}")
    return problems


def held_blocks(spark) -> set:
    """Ids of the persistent RDDs, plus -1 while the CacheManager holds
    any frame."""
    held = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        held.add(-1)
    return held


def main():
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i:i + 2]
    strict = "--strict" in argv
    if strict:
        argv.remove("--strict")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    passed, failed, rows_only = [], [], []
    pins_left = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        held0 = held_blocks(spark)
        try:
            with scope():  # a query's pins must not outlive its collect
                sdf = fn(spark, sf_dir)
                spark_pdf = sdf.toPandas()
        except Exception:
            failed.append((name, "SPARK ERROR:\n" + traceback.format_exc(limit=6)))
            continue
        finally:
            pins_left[name] = len(held_blocks(spark) - held0)
        if pins_left[name]:
            failed.append((name, f"PINS LEFT: {pins_left[name]} cached "
                                 f"RDDs/frames after scope()"))
            continue
        if name not in oracles:
            rows_only.append((name, len(spark_pdf)))
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception:
            failed.append((name, "DUCKDB ERROR:\n" + traceback.format_exc(limit=3)))
            continue
        problems = compare(spark_pdf, duck_pdf, strict=strict)
        if problems:
            failed.append((name, "; ".join(problems)))
        else:
            passed.append((name, len(spark_pdf)))

    print(f"\n=== PASS ({len(passed)}) ===")
    for name, n in passed:
        print(f"  {name}: {n} rows")
    print(f"\n=== ROWS-ONLY ({len(rows_only)}) ===")
    for name, n in rows_only:
        print(f"  {name}: {n} rows")
    print(f"\n=== FAIL ({len(failed)}) ===")
    for name, msg in failed:
        print(f"  {name}: {msg[:600]}")
    if json_out:
        import json
        import os
        import time
        rec = {"_sweep": {
            "sf_dir": sf_dir,
            "strict": strict,
            "ts": time.strftime("%Y-%m-%d %H:%M:%S"),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "n_pass": len(passed), "n_fail": len(failed),
            "n_rows_only": len(rows_only),
        }}
        for name, n in passed:
            rec[name] = {"status": "pass", "rows": n}
        for name, n in rows_only:
            rec[name] = {"status": "rows_only", "rows": n}
        for name, msg in failed:
            rec[name] = {"status": "fail", "err": msg[:400]}
        for name, n in pins_left.items():
            rec[name]["pins_left"] = n
        with open(json_out, "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"\nwrote {json_out}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
