"""Pin/release lifecycle: the only module that pins an intermediate
frame or frees one. Pin a frame that several jobs read, so its
upstream runs once.

* Pin **eager** (``localCheckpoint``) when a driver action reads the
  frame right away (bounds, offsets, a count), and for the state of
  an iterative loop, whose plan would otherwise grow every round.
* Pin **lazy** (``persist``) when the first reading job may as well
  fill the cache, or when the lineage must stay (a lost block is
  recomputed, not lost).

Who releases: a function that pins and consumes the pin in its own
body frees it there (:func:`pinned`, or :func:`release` after the
last reader; a loop frees round ``i - 1`` once round ``i`` holds). A
function that returns a lazy frame built on its pins cannot: the
caller runs the query and its action inside :func:`scope`, which
frees every pin made while it was open, from any thread, and also
what an exception left pinned.

``DataFrame.unpersist`` is a silent no-op on a checkpoint, and a view
derived from a pin holds no pin of its own; :func:`release` frees
either kind of pin and raises on anything else, so a release never
silently leaves blocks to the JVM's ContextCleaner.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

__all__ = ["pin", "release", "pinned", "scope", "is_expensive"]

_lock = threading.Lock()
_scopes: list[list[DataFrame]] = []  # open scopes, innermost last

# Logical operators (analyzed-plan tags) whose recomputation costs more
# than re-reading the source: a plain pruned file scan has none of them.
_EXPENSIVE = ("Join", "Aggregate", "Window", "Generate", "Expand",
              "Union", "Deduplicate", "Intersect", "Except",
              "MapInPandas", "FlatMapGroupsInPandas", "MapGroups",
              "PythonUDF")


def pin(df: DataFrame, eager: bool) -> DataFrame:
    """Pin ``df``: ``localCheckpoint()`` if ``eager``, else
    ``persist()``. Returns the frame to read from; the innermost open
    :func:`scope` records it."""
    out = df.localCheckpoint() if eager else df.persist()
    with _lock:
        if _scopes:
            _scopes[-1].append(out)
    return out


def _checkpoint_rdd(df: DataFrame):
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() != "LogicalRDD":
        return None
    rdd = plan.rdd()
    return rdd if rdd.getStorageLevel().isValid() else None


def _free(df: DataFrame) -> bool:
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        df.unpersist()
        return True
    rdd = _checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)
        return True
    return False


def release(df: DataFrame) -> None:
    """Free the blocks behind a frame returned by :func:`pin`. The
    frame must not be read again if it was an eager pin: its lineage
    ends at the checkpoint. Raises ``ValueError`` if ``df`` holds no
    pin (a derived view, or a pin already released)."""
    with _lock:
        for held in _scopes:
            for i, x in enumerate(held):
                if x is df:
                    del held[i]
                    break
    if not _free(df):
        raise ValueError("release: frame is neither a checkpoint nor "
                         "cached (derived view or already released)")


@contextmanager
def pinned(df: DataFrame, eager: bool) -> Iterator[DataFrame]:
    """``with pinned(df, eager) as p:`` — pin for the body, release on
    exit, also when the body raises."""
    p = pin(df, eager)
    try:
        yield p
    finally:
        release(p)


@contextmanager
def scope() -> Iterator[None]:
    """Record every :func:`pin` made while open, from any thread, and
    release at exit whatever is still pinned. Scopes form one
    process-wide stack (worker threads have no context of their own):
    the innermost open scope records each pin. So open one around a
    query and its action, never inside an operator, which could free
    a pin another thread still reads."""
    held: list[DataFrame] = []
    with _lock:
        _scopes.append(held)
    try:
        yield
    finally:
        with _lock:
            _scopes[:] = [s for s in _scopes if s is not held]
        for df in reversed(held):
            _free(df)  # a pin sharing a released plan is already free


def is_expensive(df: DataFrame) -> bool:
    """Whether re-running ``df``'s plan costs more than a pin. Reads
    the analyzed plan, which analysis already built, so the probe runs
    no optimizer."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return any(t in plan for t in _EXPENSIVE)
