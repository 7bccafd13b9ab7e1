"""functions/lanes.overlap: every lane starts at once, argument-order
results, every lane finishes before a failure is re-raised, and lane jobs
are labelled with the caller's job group and their own call site."""

from __future__ import annotations

import threading
import time

import pytest

from etl_finance_pipeline_spark.functions.lanes import overlap


def test_results_come_back_in_argument_order(spark):
    finished = []

    def lane(i: int, delay: float):
        def run():
            time.sleep(delay)
            finished.append(i)
            return i

        return run

    assert overlap(lane(0, 0.45), lane(1, 0.3), lane(2, 0.15)) == [0, 1, 2]
    assert finished == [2, 1, 0]


def test_every_lane_starts_at_once(spark):
    """Five lanes meet at one barrier: none can pass it until all five
    are running."""
    barrier = threading.Barrier(5, timeout=10)

    def lane(i: int):
        def run():
            barrier.wait()
            return i

        return run

    assert overlap(*[lane(i) for i in range(5)]) == [0, 1, 2, 3, 4]


def test_failure_waits_for_every_lane_and_reraises(spark):
    lock = threading.Lock()
    started, ended = set(), set()

    def fail(i: int, delay: float):
        def run():
            time.sleep(delay)
            raise ValueError(f"lane {i} failed")

        return run

    def slow(i: int):
        def run():
            with lock:
                started.add(i)
            time.sleep(0.3)
            with lock:
                ended.add(i)
            return i

        return run

    # lane 3 fails first in time; lane 0 comes first in argument order
    with pytest.raises(ValueError, match="lane 0 failed"):
        overlap(fail(0, 0.1), slow(1), slow(2), fail(3, 0.0), slow(4))
    # a failure stops no other lane: every lane ran to its end before
    # the error surfaced
    assert started == ended == {1, 2, 4}


def test_lane_jobs_carry_the_callers_job_group(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def settle():
        sc._jsc.sc().listenerBus().waitUntilEmpty()

    settle()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("lanes-test", "overlap lanes")
    try:
        counts = overlap(
            lambda: spark.range(10).count(),
            lambda: spark.range(20).count(),
            lambda: spark.range(30).count(),
        )
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    settle()
    assert counts == [10, 20, 30]
    assert len(tracker.getJobIdsForGroup("lanes-test")) >= 3
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_lane_jobs_keep_their_call_site(spark):
    """A lane job is named after the line that started it, not after
    the lane wrapper."""
    sc = spark.sparkContext
    sc.setJobGroup("lanes-call-site", "overlap call site")
    try:
        (rows,) = overlap(lambda: spark.range(5).collect())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(rows) == 5
    store = sc._jsc.sc().statusStore()
    names = [
        store.job(j).name() for j in sc.statusTracker().getJobIdsForGroup("lanes-call-site")
    ]
    assert names and all("test_lanes.py" in n for n in names), names
