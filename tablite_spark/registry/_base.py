"""Shared helpers for the query-registry topic modules. The driver
contract (``entry`` / ``queries`` / ``oracle_sql``) lives in
``__spark_entry__.py``, which imports every topic module.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"

# repo root (the directory holding __spark_entry__.py and tests/):
# fixture-reading queries were written when they lived in the entry
# module and resolve committed fixtures relative to it
import pathlib as _pathlib

REPO_ROOT = str(_pathlib.Path(__file__).resolve().parents[2])


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tablite_spark.session import read_table
    return read_table(spark, sf_dir, name)


def _cents(col):
    """Exact-cents summation: round each term to integer cents BEFORE
    summing, so the sum is integer-exact and identical regardless of
    partitioning / summation order (then scale back to currency)."""
    return F.sum(F.round(col * 100, 0)) / 100
