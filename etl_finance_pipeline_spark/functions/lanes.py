"""Overlapped lanes: run independent driver-side work concurrently.

Many plans hold two to five INDEPENDENT pieces of work — eager
checkpoints, serial driver-round trainings, per-timeframe writes — each
of which leaves most executors idle between its small jobs. Running
them side by side lets one lane's tasks back-fill another's gaps.
:func:`overlap` is the one place that does it: every lane it is given
gets its own thread and starts at once, so a caller passes a handful of
lanes, not one per row. :func:`scoped_persist` holds a frame cached for
the actions of one block and always releases it.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from py4j.clientserver import ClientServer
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

def _inherit(thunk: Callable[[], Any]) -> Callable[[], Any]:
    """*thunk* wrapped to run under a copy of the caller's Spark local
    properties (job group, description, scheduler pool) and session
    tags, so its jobs carry the caller's labels. Each lane gets its own
    copy: a lane that sets its own description does not relabel its
    siblings.

    The properties are applied here rather than through
    ``pyspark.inheritable_thread_target``: PySpark names a job after
    the frame that first enters pyspark, and that wrapper's frame would
    name every lane job after this module instead of its real caller.
    """
    sc = SparkContext._active_spark_context
    # outside pinned-thread mode there is nothing to inherit
    if sc is None or not isinstance(SparkContext._gateway, ClientServer):
        return thunk
    properties = sc._jsc.sc().getLocalProperties().clone()
    # a call site left on the caller's thread would rename the lane's jobs
    properties.remove("callSite.short")
    properties.remove("callSite.long")
    session = SparkSession.getActiveSession()
    tags = set(session.getTags()) if session is not None else set()

    def lane() -> Any:
        sc._jsc.sc().setLocalProperties(properties)
        for tag in tags:
            session.addTag(tag)
        return thunk()

    return lane


def overlap(*thunks: Callable[[], Any]) -> list:
    """Start every thunk at once, each on its own thread; return their
    results in argument order.

    If a lane raises, every other lane still runs to its end, then the
    first failure in argument order is re-raised.
    """
    with ThreadPoolExecutor(max_workers=max(1, len(thunks))) as pool:
        futures = [pool.submit(_inherit(t)) for t in thunks]
    # leaving the pool waited for every lane
    return [f.result() for f in futures]


@contextmanager
def scoped_persist(df: DataFrame) -> Iterator[DataFrame]:
    """Persist *df* (``MEMORY_AND_DISK``) for the block's actions and
    unpersist it on the way out, also when the block raises."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    finally:
        df.unpersist()
