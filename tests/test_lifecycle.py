"""plans.lifecycle: the one pin/release path, its leak guarantees and
the shared expensive-upstream probe."""

import pathlib
import re
import sys
import threading

import pytest
from pyspark.sql import functions as F

from tablite_spark.plans.lifecycle import (
    is_expensive, pin, pinned, release, scope,
)


def _cached(spark) -> bool:
    return not spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_release_frees_both_kinds(spark):
    """``DataFrame.unpersist`` is a silent no-op on a checkpoint;
    ``release`` frees an eager and a lazy pin, and a frame derived
    from a LIVE checkpoint still computes after an OLD one is freed."""
    before = _rdds(spark)
    a = pin(spark.range(100), eager=True)
    b = pin(a.selectExpr("id * 2 AS id"), eager=True)
    assert _rdds(spark) == before + 2
    a.unpersist()  # the documented no-op, pinned so a change surfaces
    assert _rdds(spark) == before + 2
    release(a)
    assert _rdds(spark) == before + 1
    assert b.count() == 100  # b's checkpoint is self-contained
    release(b)
    assert _rdds(spark) == before

    lazy = pin(spark.range(50).selectExpr("id + 1 AS id"), eager=False)
    assert lazy.storageLevel.useMemory and _cached(spark)
    assert lazy.count() == 50
    release(lazy)
    assert not lazy.storageLevel.useMemory and not _cached(spark)
    assert _rdds(spark) == before


def test_pinned_releases_when_body_raises(spark):
    before = _rdds(spark)
    for eager in (True, False):
        with pytest.raises(RuntimeError, match="boom"):
            with pinned(spark.range(10), eager=eager) as p:
                assert p.count() == 10
                raise RuntimeError("boom")
    assert _rdds(spark) == before and not _cached(spark)


def test_scope_releases_pin_made_in_worker_thread(spark):
    before = _rdds(spark)
    out = []
    with scope():
        t = threading.Thread(
            target=lambda: out.append(pin(spark.range(7), eager=True)))
        t.start()
        t.join()
        lazy = pin(spark.range(5).selectExpr("id * 3 AS id"), eager=False)
        assert out[0].count() == 7 and lazy.count() == 5
        assert _rdds(spark) == before + 2
    assert _rdds(spark) == before and not _cached(spark)


def test_scope_records_concurrent_pins(spark):
    """More pinning threads than cores: the scope loses no pin."""
    frames, lock = [], threading.Lock()

    def work(i):
        for j in range(4):
            p = pin(spark.range(i * 10 + j + 1), eager=False)
            with lock:
                frames.append(p)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with scope():
            threads = [threading.Thread(target=work, args=(i,))
                       for i in range(12)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert len(frames) == 48
    finally:
        sys.setswitchinterval(old)
    assert not _cached(spark)
    assert not any(f.storageLevel.useMemory for f in frames)


def test_release_raises_on_derived_view(spark):
    base = pin(spark.range(10), eager=True)
    with pytest.raises(ValueError, match="neither"):
        release(base.select("id"))
    with pytest.raises(ValueError, match="neither"):
        release(spark.range(3))
    release(base)
    with pytest.raises(ValueError, match="neither"):
        release(base)  # already released


@pytest.mark.parametrize("build, expensive", [
    (lambda t: t.distinct(), True),
    (lambda t: t.intersect(t.filter(F.col("k") > 2)), True),
    (lambda t: t.subtract(t.filter(F.col("k") > 2)), True),
    (lambda t: t.select("k").filter(F.col("k") > 1), False),
])
def test_is_expensive_tags(spark, tmp_path, build, expensive):
    """Set operators over a parquet scan are expensive to replay; a
    plain pruned scan is not."""
    p = str(tmp_path / "t.parquet")
    spark.range(20).select((F.col("id") % 5).alias("k"),
                           F.col("id").alias("v")).write.parquet(p)
    t = spark.read.parquet(p).select("k")
    assert is_expensive(build(t)) is expensive


def test_only_lifecycle_pins_or_releases():
    """Outside plans/lifecycle.py the package never persists,
    checkpoints or unpersists a frame by hand."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "tablite_spark"
    raw = re.compile(r"\.(persist\(|cache\(\)|localCheckpoint\("
                     r"|checkpoint\(|unpersist\()")
    hits = [f"{p.relative_to(pkg)}:{i}"
            for p in sorted(pkg.rglob("*.py"))
            if p.name != "lifecycle.py" or p.parent.name != "plans"
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if raw.search(line)]
    assert not hits, hits
