"""SparkSession factory with scale-aware defaults.

Single entry point so every operator, test, and bench runs with the
same plan-level configuration: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (fast pandas/UDF bridge),
sane shuffle parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from tablite_spark.config import Config, host_cpus


def get_spark(app_name: str = "tablite_spark", master: str | None = None) -> SparkSession:
    master = master or f"local[{host_cpus()}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(Config.SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.files.maxPartitionBytes", Config.MAX_PARTITION_BYTES)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wide aggregations (e.g. 128 minhash permutation mins) must stay
        # in whole-stage codegen; the 100-field default silently drops
        # them to the interpreted path (observed 1.7x slowdown)
        .config("spark.sql.codegen.maxFields", "300")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # parquet TIMESTAMP(NANOS) (e.g. pandas-written events tables) is
        # otherwise unreadable; read as long and convert (see load_tables)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reference parity: CSV ingest supports Windows-1250 etc.
        # (tablite text_reader encodings); Spark 4 gates non-UTF JVM
        # charsets behind this flag
        .config("spark.sql.legacy.javaCharsets", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one parquet table, normalizing nanosecond-timestamp columns
    (read as long under nanosAsLong) back to µs timestamps."""
    from pyspark.sql import functions as F

    try:  # runtime-settable; needed when the caller built its own session
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(
            F.floor(F.col("ts") / 1000).cast("long")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's TPC-H-ish parquet tables as a dict of DataFrames."""
    names = names or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    return {n: read_table(spark, sf_dir, n) for n in names}
