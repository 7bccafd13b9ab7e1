"""functions/lanes.overlap: argument-order results, skip-on-failure, and
lane jobs labelled with the caller's job group and their own call site."""

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


def test_failure_skips_unstarted_lanes_and_reraises(spark):
    lock = threading.Lock()
    started, ended = set(), set()

    def fail():
        raise ValueError("lane 0 failed")

    def slow(i: int):
        def run():
            with lock:
                started.add(i)
            time.sleep(0.3)
            with lock:
                ended.add(i)
            return i

        return run

    with pytest.raises(ValueError, match="lane 0 failed"):
        overlap(fail, slow(1), slow(2), slow(3), slow(4))
    assert not started & {3, 4}
    # every lane that started had finished before the error surfaced
    assert started == ended


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
