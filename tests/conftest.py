from __future__ import annotations

import gc
import time

import pytest

from etl_finance_pipeline_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True, scope="module")
def _release_unreferenced_rdds(spark):
    """Start each module after the persisted RDDs that earlier modules
    no longer reference are released.

    An operator's ``localCheckpoint`` stays persisted until Python drops
    the frame, py4j's finalizer thread (which wakes once a second) tells
    the JVM, and a JVM collection then drops the RDD. Left to chance,
    that happens inside some later test, and a test that compares
    ``getPersistentRDDs()`` before and after its own call counts it."""
    before = None
    for _ in range(5):
        size = spark.sparkContext._jsc.getPersistentRDDs().size()
        if size in (0, before):
            break
        before = size
        gc.collect()
        time.sleep(1.2)
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)
    yield
