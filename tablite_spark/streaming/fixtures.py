"""Micro-batch fixture staging and scale-adaptive streaming shuffle
partitions (optimization round r14).

Two costs dominated every streaming registry query at bench scale,
neither of them the streaming engine itself (measured with
``StreamingQuery.recentProgress`` + phase timers, receipts in
OPTIMIZATION_r14.md):

1. **Fixture staging.** Each micro-batch file was produced by
   ``part.coalesce(1).write.parquet(...)``. For a ``createDataFrame``
   sentinel row that plan is pathological: the local relation is
   parallelized over ``defaultParallelism`` Python-RDD slices and
   ``coalesce(1)`` computes all of them INSIDE ONE TASK, serially
   re-entering the Python worker per slice — measured 5-8 s per
   1-row file (guide §4: the Python boundary). Staging here collects
   the (small, driver-bounded by construction) fixture part as ONE
   Arrow table (`DataFrame.toArrow` — a parallel scan + one Arrow
   transfer) and writes the single parquet file with pyarrow:
   ~0.1-0.3 s per batch, no Spark job at all for pure-local parts.

2. **State-store / shuffle fan-out.** A micro-batch engine commits
   every stateful operator's state store ONCE PER PARTITION PER
   BATCH, and `spark.sql.shuffle.partitions` (sized for the batch
   engine's large scans) fixes that partition count at query start —
   AQE never applies to streaming. 32 partitions × 4-8 micro-batches
   of a ~2 MB fixture is pure per-task + per-commit overhead
   (guide §2.2: many tiny blocks): measured 2× end-to-end on the
   session-window query (7.7 s → 3.7 s at 8 partitions, identical
   output). :func:`stream_shuffle_partitions` derives the partition
   count from the STAGED INPUT BYTES (guide §2: make partitioning
   scale-adaptive — derive from input size, never a constant tuned
   for one deployment): ``ceil(bytes / per-partition bytes)``
   (1 MiB, or ``SPARK_GRAFT_STREAM_PARTITION_BYTES``), floored at
   min(8, defaultParallelism), capped at ``defaultParallelism`` so
   the driver's lower-core-count scaling run keeps its meaning. The
   floor matters: a per-query partition sweep (OPTIMIZATION_r14.md)
   showed 4 partitions STARVES the state-/Python-heavy operators
   (applyInPandasWithState loops, 100k-key dedup state serialize per
   commit) — e.g.
   dropDuplicatesWithinWatermark 12.6 s @4 vs 2.8 s @8 vs 4.6 s @32
   — while 8-16 beats 32 across every streaming query measured. At
   100 TB the same formula saturates at the cluster's parallelism —
   production deployments should raise
   ``SPARK_GRAFT_STREAM_PARTITION_BYTES`` toward 64-128 MB per state
   partition, the normal streaming-state sizing.

Partition count never changes WHAT a streaming query computes — only
how its state is sharded — and a restart-from-checkpoint reuses the
count pinned in the checkpoint's offset log, so the forced-replay
fixtures stay valid.

The streaming registry queries share one harness on top of these:
:func:`median_split` cuts an input into ordered micro-batches (plus
the sentinel batches that flush a watermark) and
:func:`drain_stream` stages them, replays them as file-source streams
with one file per trigger, drains the query to completion into a
scratch directory and reads the result back.
"""

from __future__ import annotations

import contextlib
import datetime
import math
import os

from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import scratch

__all__ = ["stage_stream_batches", "stream_shuffle_partitions",
           "median_split", "drain_stream"]

_BASE_MTIME = 1_700_000_000  # batch i's file mtime: base + 600 s * i


def stage_stream_batches(root: str, name: str, parts):
    """Stage each part as ONE mtime-pinned parquet file under
    ``root/name`` so a file-source readStream with
    ``maxFilesPerTrigger=1`` replays them as ordered micro-batches.
    Returns the directory and the Spark schema of the first part,
    every field nullable (as a file source reads it).

    ``parts`` entries are small fixture DataFrames (collected via one
    Arrow transfer each — fixture staging over tiny frames, never a
    data-path shape) or ready-made ``pyarrow.Table`` rows (sentinel
    batches — zero Spark jobs). Naive timestamp columns are cast to
    tz-UTC so the files carry the same adjusted-to-UTC parquet
    annotation Spark's own writer produced (session tz is UTC;
    values are bit-identical either way)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    src = os.path.join(root, name)
    os.makedirs(src, exist_ok=True)
    schema = None
    for i, part in enumerate(parts):
        tbl = part if isinstance(part, pa.Table) else part.toArrow()
        fields, changed = [], False
        for f in tbl.schema:
            if pa.types.is_timestamp(f.type) and f.type.tz is None:
                fields.append(
                    pa.field(f.name, pa.timestamp(f.type.unit, "UTC")))
                changed = True
            else:
                fields.append(f)
        if changed:
            tbl = tbl.cast(pa.schema(fields))
        if schema is None:
            schema = from_arrow_schema(pa.schema(
                [f.with_nullable(True) for f in tbl.schema]))
        dst = os.path.join(src, f"batch{i}.parquet")
        pq.write_table(tbl, dst)
        t = _BASE_MTIME + i * 600
        os.utime(dst, (t, t))
    return src, schema


def staged_bytes(*srcs: str) -> int:
    """Total bytes of the staged micro-batch files — the input-size
    signal :func:`stream_shuffle_partitions` scales from."""
    total = 0
    for src in srcs:
        for entry in os.listdir(src):
            p = os.path.join(src, entry)
            if os.path.isfile(p):
                total += os.path.getsize(p)
    return total


@contextlib.contextmanager
def stream_shuffle_partitions(spark, *srcs: str):
    """Scope ``spark.sql.shuffle.partitions`` (= streaming state
    partitions; AQE never coalesces streaming shuffles) to a count
    derived from the staged input size, restoring the session value
    afterwards. See the module docstring for the sizing rationale and
    the production knob."""
    per = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITION_BYTES",
                             str(1 << 20)))
    n_bytes = staged_bytes(*srcs) if srcs else 0
    floor = min(8, spark.sparkContext.defaultParallelism)
    target = max(floor, min(spark.sparkContext.defaultParallelism,
                            math.ceil(n_bytes / per) if n_bytes else 1))
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(target))
    try:
        yield target
    finally:
        spark.conf.set(key, old)


def median_split(df, *parts, key=None, flush=None) -> list[list]:
    """Cut each of ``parts`` (default: ``df`` itself) into two ordered
    micro-batches at the median of ``key`` over ``df`` — rows at or
    below it, then rows above it — with ONE collect. ``key`` defaults
    to ``ts`` in epoch microseconds; a row whose key is null lands in
    neither batch. A global time cut keeps each entity's order across
    the batch boundary, so cross-batch state is what the stream
    exercises.

    ``flush`` names the values of every non-``ts`` column of a
    sentinel row. Given, each part gets two more one-row batches at
    ``ts`` = max + 30 and + 60 days: the watermark computed at the end
    of batch N applies to batch N+1, so the first sentinel finalizes
    nothing and the second flushes every held row in append mode.
    Returns one batch list per part."""
    import pyarrow as pa

    if key is None:
        key = F.unix_micros(F.col("ts").cast("timestamp"))
    aggs = [F.percentile(key, F.lit(0.5)).alias("m")]
    if flush is not None:
        aggs.append(F.max("ts").alias("hi"))
    row = df.agg(*aggs).collect()[0]
    cut = F.lit(int(row["m"]))
    out = []
    for part in parts or (df,):
        batches = [part.filter(key <= cut), part.filter(key > cut)]
        if flush is not None:
            batches += [pa.table({
                c: [row["hi"] + datetime.timedelta(days=30 * (i + 1))]
                if c == "ts" else [flush[c]] for c in part.columns})
                for i in range(2)]
        out.append(batches)
    return out


def drain_stream(spark, prefix: str, sources, query=None, *, sink=None,
                 replay: bool = False, read: str = "out"):
    """Run a streaming fixture end to end and return its output.

    ``sources`` holds one batch list per file source. Each is staged
    under a :func:`~tablite_spark.plans.lifecycle.scratch` root and
    read back as a stream with one file per trigger; ``query(*streams)``
    builds the streaming frame (default: the one stream). The frame
    drains with ``availableNow`` under :func:`stream_shuffle_partitions`
    into ``root/out`` (checkpoint ``root/ckpt``): through a parquet
    append sink, or through ``sink(frame, out, ckpt)``, which starts
    its own query. The output is read back from ``root/read``.

    ``replay`` forces the at-least-once crash window: drain batch 0
    alone, delete its commit marker (``commits/0`` and its ``.crc``
    shadow, which would block the replayed commit's rename), stage
    every batch and restart from the checkpoint, so batch 0 runs again
    from its pinned offsets."""
    root = scratch(prefix)
    out, ckpt = f"{root}/out", f"{root}/ckpt"

    def run(n_batches=None):
        srcs, streams = [], []
        for i, batches in enumerate(sources):
            src, schema = stage_stream_batches(root, f"src{i}",
                                               batches[:n_batches])
            srcs.append(src)
            streams.append(spark.readStream.schema(schema)
                           .option("maxFilesPerTrigger", 1)
                           .option("latestFirst", "false").parquet(src))
        frame = query(*streams) if query else streams[0]
        with stream_shuffle_partitions(spark, *srcs):
            q = (sink(frame, out, ckpt) if sink else
                 frame.writeStream.format("parquet")
                 .option("path", out).option("checkpointLocation", ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()

    if replay:
        run(1)
        os.remove(f"{ckpt}/commits/0")
        crc = f"{ckpt}/commits/.0.crc"
        if os.path.exists(crc):
            os.remove(crc)
    run()
    return spark.read.parquet(f"{root}/{read}")
