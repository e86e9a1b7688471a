import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from tablite_spark import get_spark
from tablite_spark.plans import lifecycle


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture
def jobs(spark):
    """``jobs()`` is the number of jobs the scheduler has submitted so
    far; the difference of two calls counts the jobs run between."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: scheduler.nextJobId()


def held_blocks():
    """(persistent RDD ids, CacheManager holds frames) of the live
    session; nothing before one exists."""
    session = SparkSession.getActiveSession()
    if SparkContext._active_spark_context is None or session is None:
        return set(), False
    jsc = session.sparkContext._jsc
    cache = session._jsparkSession.sharedState().cacheManager()
    return set(jsc.getPersistentRDDs().keySet()), not cache.isEmpty()


@pytest.fixture(autouse=True)
def no_leaked_pins():
    """Run every test inside ``lifecycle.scope()``; afterwards no
    persistent RDD and no CacheManager entry may exist that did not
    exist before the test."""
    rdds0, cached0 = held_blocks()
    with lifecycle.scope():
        yield
    rdds, cached = held_blocks()
    assert rdds <= rdds0, f"persistent RDDs left: {sorted(rdds - rdds0)}"
    assert cached <= cached0, "CacheManager entries left"
