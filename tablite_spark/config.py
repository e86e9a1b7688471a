"""Engine configuration.

Mirrors the *semantics* of the reference's ``tablite/config.py`` (page
size, single/multi-process switches) but none of its machinery: Spark
partitions replace pages, and the cluster scheduler replaces the
process pool. What remains configurable here are the Spark-plan knobs
that matter at 100 TB scale.

Reference: tablite/config.py:44-89 (workdir, PAGE_SIZE, SP/MP limits)
— all absorbed by Spark (partitioning + AQE).
"""

from __future__ import annotations

import os


def host_cpus() -> int:
    """Cores the local engine runs on: ``SPARK_GRAFT_CPUS`` if set,
    else the cores this process may run on (its CPU affinity)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


class Config:
    # Default shuffle parallelism for local runs; on a real cluster this
    # should be ~2-3x total executor cores, and AQE coalesces down.
    SHUFFLE_PARTITIONS = host_cpus()

    # Rows below this threshold are considered "small" → broadcast joins
    # and driver-side algorithms (e.g. transpose) are allowed.
    BROADCAST_ROW_LIMIT = 10_000_000

    # Target partition input size; tuned so a partition fits comfortably
    # in executor memory at 100 TB scale (128 MB parquet ≈ ~1 GB decoded).
    MAX_PARTITION_BYTES = "128m"

    # Near-dup defaults (pipeline ops)
    MINHASH_PERMUTATIONS = 128
    MINHASH_BANDS = 32  # 32 bands x 4 rows
    SHINGLE_SIZE = 5

    # None sentinels recognized by the readers / cast gate
    # (reference: tablite/datatypes.py:30)
    NONE_SENTINELS = {"null", "Null", "NULL", "#N/A", "#n/a", "", "None"}
