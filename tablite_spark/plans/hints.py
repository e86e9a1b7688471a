"""Count-driven broadcast decisions for iterative operators.

Iterative state (localCheckpoint frames) has UNKNOWN stats to
Catalyst, so every state ⋈ edges join plans as a sort-merge join that
shuffles the BIG side once per round. The fixpoint loops all compute
their state's row count anyway (convergence checks), so the broadcast
decision can be made from REAL numbers instead of missing estimates:
broadcast the node-bounded side iff its estimated bytes fit the
budget, else keep the shuffle join (the 100 TB-safe fallback — node
sets scale with the corpus). 256 MB is the optimization guide's "a
few hundred MB is usually fine" regime, far under the 8 GB broadcast
cap; production can move it via the env knob.

:func:`respread` is the one rule for input that arrives with fewer
partitions than the session's default parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["maybe_broadcast", "respread", "BROADCAST_BYTES"]

BROADCAST_BYTES = int(os.environ.get(
    "SPARK_GRAFT_GRAPH_BROADCAST_BYTES", str(256 << 20)))


def maybe_broadcast(df: DataFrame, n_rows: int,
                    bytes_per_row: int) -> DataFrame:
    """``broadcast(df)`` iff ``n_rows * bytes_per_row`` fits the
    budget; ``df`` unchanged otherwise. Callers pass the row count
    they already computed — never an estimate."""
    if n_rows * bytes_per_row <= BROADCAST_BYTES:
        return F.broadcast(df)
    return df


def respread(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when it
    arrives with fewer partitions (a small or single-row-group file
    reads as one split, so the per-row work after the scan would run
    in one task). At corpus scale the scan is already wide and this
    returns ``df`` unchanged."""
    para = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < para:
        return df.repartition(para)
    return df
