"""The benchmark's workloads: seeded inputs plus an ordered list of
operations, each a call into one layer of the engine followed by the
final action a user would run.

Each operation makes one layer do most of its work; ``design.json``
records why each workload was chosen and which metrics should move:

- ``compute``: ``q5_nation_revenue`` (one job: executor-side operators,
  shuffle, parquet decode), ``rfm_segments_orders`` (many small jobs
  from a thread pool: per-job driver cost, cached frames left behind)
  and ``pipeline.text.pretrain_filter`` (Python workers behind
  ``mapInPandas`` and the Arrow boundary).
- ``io_roundtrip``: ``sources.io`` save, load and read_csv, and a
  stepped slice of an indexed table; the only workload that writes.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

import __spark_entry__ as registry
from perfbench.check import fingerprint
from tablite_spark.operators.sorting import slice_rows
from tablite_spark.pipeline.text import pretrain_filter
from tablite_spark.sources import io


def collect(df: DataFrame) -> pd.DataFrame:
    """The rows as pandas, with the Spark schema in ``attrs``."""
    pdf = df.toPandas()
    pdf.attrs["schema"] = df.schema.simpleString()
    return pdf


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Ctx:
    """What an operation may use: the session, the seeded input
    directory, a directory for written output, and what the workload's
    preparation left."""
    spark: SparkSession
    data: str
    out: str
    params: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Op:
    """``call`` is the span into ``layer``; it returns the frame that
    ``action`` forces, or None when the call is its own action. The
    action's return value is the result the output check reads. The
    check uses ``check`` if set, else the registry oracle named
    ``oracle``, else the invariants of the collected results."""
    name: str
    layer: str
    call: Callable[[Ctx], Any]
    action: Callable[[DataFrame], Any] | None = collect
    oracle: str | None = None
    check: Callable[[Ctx, list], list[str]] | None = None


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: dict
    ops: tuple[Op, ...]
    prepare: Callable[[Ctx], None] = lambda ctx: None
    # extra numbers from the per-operation median wall times
    report: Callable[[Ctx, dict[str, float]], dict[str, float]] | None = None


def _registry_op(name: str) -> Op:
    fn = registry.queries()[name]
    return Op(name, "registry", lambda ctx: fn(ctx.spark, ctx.data),
              oracle=name)


def _pretrain_filter(ctx: Ctx) -> DataFrame:
    docs = ctx.spark.read.parquet(f"{ctx.data}/documents.parquet")
    return pretrain_filter(docs.select("doc_id", "text"), "text", "doc_id")


ROWS = 100_000  # rows of the indexed table, saved, loaded and sliced
SLICE_STEP = 2_500
CSV_ROWS = 500
CSV_SCHEMA = "struct<id:bigint,amount:double,day:date,flag:boolean,label:string>"


def _indexed(ctx: Ctx) -> DataFrame:
    return io.load(ctx.spark, f"{ctx.data}/indexed.parquet")


def _io_prepare(ctx: Ctx) -> None:
    """Cache the indexed table, so ``save`` measures encode and write
    rather than the read of its input."""
    ctx.params["cached"] = _indexed(ctx).persist()
    ctx.params["cached"].count()


def _save(ctx: Ctx) -> None:
    io.save(ctx.params["cached"], f"{ctx.out}/saved.parquet")


def _load(ctx: Ctx) -> DataFrame:
    return io.load(ctx.spark, f"{ctx.out}/saved.parquet")


def _slice(ctx: Ctx) -> DataFrame:
    return slice_rows(_indexed(ctx), None, None, SLICE_STEP,
                      index_col="__row_id__")


def _read_csv(ctx: Ctx) -> DataFrame:
    return io.read_csv(ctx.spark, f"{ctx.data}/orders.csv")


def stored(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return sum(os.path.getsize(f) for f in files), len(files)


def _check_save(ctx: Ctx, results: list) -> list[str]:
    """The last save holds the cached frame's rows, checked by value."""
    if stored(f"{ctx.out}/saved.parquet")[1] == 0:
        return ["no parquet files written"]
    got, want = fingerprint(_load(ctx)), fingerprint(_indexed(ctx))
    return [] if got == want else [f"loaded {got} != saved {want}"]


def _check_load(ctx: Ctx, results: list) -> list[str]:
    n = _load(ctx).count()
    return [] if n == ROWS else [f"loaded {n} rows"]


def _check_slice(ctx: Ctx, results: list) -> list[str]:
    want = list(range(0, ROWS, SLICE_STEP))
    for pdf in results:
        got = sorted(pdf["__row_id__"])
        if got != want:
            return [f"slice rows {got[:5]}... != {want[:5]}..."]
    return []


def _check_csv(ctx: Ctx, results: list) -> list[str]:
    for pdf in results:
        if pdf.attrs["schema"] != CSV_SCHEMA:
            return [f"inferred {pdf.attrs['schema']}"]
        n, ids = len(pdf), int(pdf["id"].sum())
        if (n, ids) != (CSV_ROWS, CSV_ROWS * (CSV_ROWS - 1) // 2):
            return [f"read {n} rows with id sum {ids}"]
    return []


def _io_report(ctx: Ctx, op_s: dict[str, float]) -> dict[str, float]:
    return {
        "save_rows_per_s": ROWS / op_s["save"],
        "load_rows_per_s": ROWS / op_s["load"],
        "csv_rows_per_s": CSV_ROWS / op_s["read_csv"],
        "slice_s": op_s["slice_rows"],
        "stored_bytes_per_row":
            stored(f"{ctx.out}/saved.parquet")[0] / ROWS,
    }


WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    Workload("compute", {"sf": 0.02, "documents": 200}, (
        _registry_op("q5_nation_revenue"),
        _registry_op("rfm_segments_orders"),
        Op("pretrain_filter", "pipeline", _pretrain_filter,
           oracle="pretrain_filter_docs"),
    )),
    Workload("io_roundtrip", {"csv": CSV_ROWS, "indexed": ROWS}, (
        Op("save", "sources.save", _save, action=None, check=_check_save),
        Op("load", "sources.load", _load, action=noop, check=_check_load),
        Op("slice_rows", "operators.slice_rows", _slice,
           check=_check_slice),
        Op("read_csv", "sources.read_csv", _read_csv, check=_check_csv),
    ), prepare=_io_prepare, report=_io_report),
)}
