"""Overlapped lanes: run independent driver-side work concurrently.

Many plans hold two to five INDEPENDENT pieces of work — eager
checkpoints, serial driver-round trainings, per-timeframe writes — each
of which leaves most executors idle between its small jobs. Running
them side by side lets one lane's tasks back-fill another's gaps.
:func:`overlap` is the one place that does it.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

#: lanes in flight at once: enough to fill a straggler tail without
#: the lanes contending for executors
_WIDTH = 3


class _Skipped(Exception):
    """A lane that never started because an earlier lane failed."""


def _inherit(thunk: Callable[[], Any]) -> Callable[[], Any]:
    """*thunk* wrapped to run under a copy of the caller's Spark local
    properties (job group, description, scheduler pool), so its jobs
    carry the caller's labels. Each lane gets its own copy: a lane that
    sets its own description does not relabel its siblings."""
    wrap = inheritable_thread_target(SparkSession.active())
    # outside pinned-thread mode there is nothing to inherit, and the
    # helper hands the session back instead of a decorator
    return wrap(thunk) if callable(wrap) else thunk


def overlap(*thunks: Callable[[], Any]) -> list:
    """Run *thunks* on at most three threads; return their results in
    argument order.

    If a lane raises, lanes not yet started are skipped, running lanes
    finish, and the first failure in argument order is re-raised.
    """
    failed = threading.Event()

    def lane(thunk: Callable[[], Any]) -> Any:
        if failed.is_set():
            raise _Skipped
        try:
            return thunk()
        except BaseException:
            failed.set()
            raise

    with ThreadPoolExecutor(max_workers=max(1, min(len(thunks), _WIDTH))) as pool:
        futures = [pool.submit(lane, _inherit(t)) for t in thunks]
    # leaving the pool waited for every started lane
    for f in futures:
        err = f.exception()
        if err is not None and not isinstance(err, _Skipped):
            raise err
    return [f.result() for f in futures]
