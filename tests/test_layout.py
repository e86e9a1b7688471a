"""Z-order layout: Morton-key correctness, null/type handling, the
one-shuffle plan shape, and the actual data-skipping payoff measured
from parquet file statistics."""

import glob

import pytest
from pyspark.sql import functions as F

from tablite_spark.operators.layout import zorder_key, zorder_repartition
from tablite_spark.plans import shuffle_count


def _morton2(x: int, y: int, bits: int) -> int:
    z = 0
    for b in range(bits):
        z |= ((x >> b) & 1) << (2 * b)
        z |= ((y >> b) & 1) << (2 * b + 1)
    return z


def test_zorder_key_is_exact_morton(spark):
    """On an 8x8 grid that already fits `bits` bits (shift 0), the
    key must equal the textbook Morton interleave for every cell."""
    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {(r["x"], r["y"]): r["__zorder__"]
           for r in zorder_key(df, ["x", "y"], bits=3).collect()}
    for x, y in rows:
        assert got[(x, y)] == _morton2(x, y, 3), (x, y)


def test_zorder_key_shifts_wide_ranges(spark):
    """Ranges wider than 2^bits normalize by bit shift — the top
    `bits` bits of the offset survive, keys stay within bits*ncols
    bits, and ordering of well-separated values is preserved."""
    df = spark.createDataFrame(
        [(0, 0), (1 << 28, 0), (1 << 30, 0)], "x long, y long")
    vals = {r["x"]: r["__zorder__"]
            for r in zorder_key(df, ["x", "y"], bits=4).collect()}
    assert vals[0] < vals[1 << 28] < vals[1 << 30]
    assert all(v < (1 << 8) for v in vals.values())


def test_zorder_nulls_and_types(spark):
    """NULLs take bucket 0 (cluster at the low end); timestamps join
    via their tz-free epoch view."""
    df = spark.createDataFrame(
        [(1, None, "2024-01-01 00:00:00"),
         (2, 5, "2024-06-01 00:00:00"),
         (3, 900, "2024-12-31 00:00:00")],
        "id long, v long, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {r["id"]: r["__zorder__"]
           for r in zorder_key(df, ["v", "ts"], bits=4).collect()}
    assert out[1] < out[3]  # null v + earliest ts => lowest key
    with pytest.raises(ValueError):
        zorder_key(df, [], bits=4)
    with pytest.raises(ValueError):
        zorder_key(df, ["v", "ts"], bits=40)


def test_zorder_repartition_plan_one_shuffle(spark):
    df = spark.range(1000).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y"))
    out = zorder_repartition(df, ["x", "y"], num_partitions=4)
    assert shuffle_count(out) == 1  # the range partition, nothing else
    assert out.count() == 1000
    assert "__zorder__" not in out.columns


def test_zorder_files_prune_on_second_dimension(spark, tmp_path):
    """The actual 100 TB payoff, measured: 64x64 grid written as 16
    files. X-sorted files are x-stripes — every file spans the full
    y range, so a y-only range predicate prunes NOTHING. Z-ordered
    files tile BOTH dimensions, so the same predicate's min/max
    check eliminates most files."""
    pq = pytest.importorskip("pyarrow.parquet")
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")

    p_sorted = str(tmp_path / "xsorted")
    df.repartitionByRange(16, "x").sortWithinPartitions("x") \
        .write.mode("overwrite").parquet(p_sorted)
    p_z = str(tmp_path / "zordered")
    zorder_repartition(df, ["x", "y"], num_partitions=16) \
        .write.mode("overwrite").parquet(p_z)

    def files_overlapping_y(path, lo, hi):
        n_total, n_hit = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            ymin = min(md.row_group(i).column(1).statistics.min
                       for i in range(md.num_row_groups))
            ymax = max(md.row_group(i).column(1).statistics.max
                       for i in range(md.num_row_groups))
            n_total += 1
            if ymax >= lo and ymin <= hi:
                n_hit += 1
        return n_hit, n_total

    hit_s, tot_s = files_overlapping_y(p_sorted, 0, 7)   # 1/8 of y
    hit_z, tot_z = files_overlapping_y(p_z, 0, 7)
    assert hit_s == tot_s  # x-stripes: zero pruning on y
    assert hit_z <= tot_z // 2, (hit_z, tot_z)  # z-tiles: real pruning

