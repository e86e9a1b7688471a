"""plans.lifecycle: the one pin/release path, its leak guarantees and
the shared expensive-upstream probe."""

import os
import pathlib
import re
import sys
import tempfile
import threading

import pytest
from pyspark.sql import functions as F

from tablite_spark.plans import lifecycle
from tablite_spark.plans.lifecycle import (
    is_expensive, pin, pinned, release, scope, scratch,
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
    """More pinning threads than cores: the scope loses no pin and no
    scratch dir."""
    frames, dirs, lock = [], [], threading.Lock()

    def work(i):
        for j in range(4):
            p = pin(spark.range(i * 10 + j + 1), eager=False)
            d = scratch("lc_thread_")
            with lock:
                frames.append(p)
                dirs.append(d)

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
    assert len(dirs) == 48 and not any(map(os.path.exists, dirs))


def test_release_raises_on_derived_view(spark):
    base = pin(spark.range(10), eager=True)
    with pytest.raises(ValueError, match="neither"):
        release(base.select("id"))
    with pytest.raises(ValueError, match="neither"):
        release(spark.range(3))
    release(base)
    with pytest.raises(ValueError, match="neither"):
        release(base)  # already released


def test_scratch_dirs_removed_at_scope_exit(spark, tmp_path):
    """A scope removes its scratch dirs at exit, after freeing its
    pins, also when the body raises."""
    with scope():
        a = scratch("lc_a_")
        pathlib.Path(a, "f.txt").write_text("x")
        p = pin(spark.range(5), eager=True)
    assert not os.path.exists(a)
    with pytest.raises(ValueError, match="neither"):
        release(p)  # freed by the scope before the dir went
    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            b = scratch("lc_b_")
            raise RuntimeError("boom")
    assert not os.path.exists(b)


def test_scratch_outside_scope_is_left(monkeypatch):
    """Made outside any scope (the bench calls queries that way), a
    scratch dir stays: nothing records it."""
    monkeypatch.setattr(lifecycle, "_scopes", [])
    d = scratch("lc_out_")
    try:
        with scope():
            pass
        assert os.path.isdir(d)
    finally:
        os.rmdir(d)


@pytest.mark.parametrize("name", ["csv_roundtrip_agg",
                                  "stream_dedup_watermark_events"])
def test_registry_query_leaves_no_dirs(spark, tmp_path, monkeypatch,
                                       name):
    """A registry query collected inside ``scope()`` leaves no file
    behind in the temp dir: its round-trip files, staged batches,
    stream output and checkpoint all live in scratch dirs."""
    import __spark_entry__ as entry
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with scope():
        assert entry.queries()[name](spark, entry.SF_SMOKE).collect()
    assert list(tmp_path.iterdir()) == []


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
