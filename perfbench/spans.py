"""Spans around the engine's public functions, recorded from outside the
program, plus the Spark status-store counters of the jobs each span ran.

A :class:`Tracer` replaces a module attribute (``module.func``) with a
wrapper that records a span -- name, layer, start, end, parent, thread --
and tags every Spark job started inside it with the span's id through
the ``spark.jobGroup.id`` local property. The property is set in the
wrapper's own thread, so spans opened on the pipeline's timeframe pool
threads tag their jobs too. Spans stay in memory until the run ends.

After an operation, :meth:`StatusStores.harvest` reads the jobs, stages and SQL
executions that the status stores gained since the previous harvest,
and :func:`attribute` gives every job to exactly one span.
"""

from __future__ import annotations

import contextlib
import functools
import re
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    thread: str
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Records spans around wrapped functions; thread-safe."""

    def __init__(self, sc) -> None:
        self._sc = sc
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> Span:
        stack = self._stack()
        # a pool thread's first span hangs under the main thread's
        # innermost open span -- the call that submitted the work
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(
                id=len(self.spans),
                name=name,
                layer=layer,
                start=time.perf_counter(),
                parent=parent,
                thread=threading.current_thread().name,
            )
            self.spans.append(span)
        stack.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record a span and tag the Spark jobs started inside it."""
        span = self.open(name, layer)
        previous = self._sc.getLocalProperty(_GROUP_KEY)
        self._sc.setLocalProperty(_GROUP_KEY, f"{GROUP_PREFIX}{span.id}")
        try:
            yield span
        finally:
            self._sc.setLocalProperty(_GROUP_KEY, previous)
            self.close(span)

    def wrap(self, module: object, attr: str, layer: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        original = getattr(module, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return original(*args, **kwargs)

        self._patches.append((module, attr, original))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children may overlap one another)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered = union_length(
            [
                (max(c.start, s.start), min(c.end or c.start, end))
                for c in children.get(s.id, [])
                if (c.end or c.start) > s.start and c.start < end
            ]
        )
        out[s.id] = (end - s.start) - covered
    return out


# --------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------


@dataclass
class Job:
    id: int
    name: str
    group: str | None
    start_ms: int | None
    end_ms: int | None
    stage_ids: list[int]
    execution: int | None = None


@dataclass
class Stage:
    id: int
    status: str
    tasks: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    input_bytes: int


@dataclass
class Harvest:
    jobs: list[Job] = field(default_factory=list)
    #: executed (not skipped) stages, keyed by id, owned by one job each
    stages: dict[int, Stage] = field(default_factory=dict)
    stage_owner: dict[int, int] = field(default_factory=dict)
    #: SQL execution id -> (final physical plan text, job ids)
    executions: dict[int, tuple[str, list[int]]] = field(default_factory=dict)


class StatusStores:
    """Incremental reader of the AppStatusStore and the SQL status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def harvest(self) -> Harvest:
        """Jobs, stages and executions that finished since the last call."""
        self._jsc.listenerBus().waitUntilEmpty()
        out = Harvest()
        for j in self._list(self._store.jobsList(None)):
            if j.jobId() in self._seen_jobs or j.status().toString() == "RUNNING":
                continue
            self._seen_jobs.add(j.jobId())
            sub, comp, grp = j.submissionTime(), j.completionTime(), j.jobGroup()
            out.jobs.append(
                Job(
                    id=j.jobId(),
                    name=j.name(),
                    group=grp.get() if grp.isDefined() else None,
                    start_ms=sub.get().getTime() if sub.isDefined() else None,
                    end_ms=comp.get().getTime() if comp.isDefined() else None,
                    stage_ids=[int(s) for s in self._list(j.stageIds())],
                )
            )
        out.jobs.sort(key=lambda job: job.id)
        wanted = {}
        for job in out.jobs:
            for sid in job.stage_ids:
                wanted.setdefault(sid, job.id)  # the lowest job id created it
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for s in self._list(stages):
            sid = s.stageId()
            status = s.status().toString()
            if sid not in wanted or status in ("SKIPPED", "PENDING"):
                continue
            out.stage_owner[sid] = wanted[sid]
            prev = out.stages.get(sid)
            st = Stage(
                id=sid,
                status=status,
                tasks=s.numCompleteTasks(),
                run_ms=s.executorRunTime(),
                cpu_ns=s.executorCpuTime(),
                gc_ms=s.jvmGcTime(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                input_bytes=s.inputBytes(),
            )
            if prev is not None:  # several attempts of one stage: add them up
                st.tasks += prev.tasks
                st.run_ms += prev.run_ms
                st.cpu_ns += prev.cpu_ns
                st.gc_ms += prev.gc_ms
                st.shuffle_write_bytes += prev.shuffle_write_bytes
                st.input_bytes += prev.input_bytes
            out.stages[sid] = st
        by_id = {job.id: job for job in out.jobs}
        for e in self._list(self._sql.executionsList()):
            eid = e.executionId()
            if eid in self._seen_execs:
                continue
            job_ids = [int(k) for k in self._conv.asJava(e.jobs()).keys()]
            if not job_ids or not all(k in by_id for k in job_ids):
                continue  # not finished yet, or older than this harvest
            self._seen_execs.add(eid)
            out.executions[eid] = (str(e.physicalPlanDescription()), sorted(job_ids))
            for k in job_ids:
                by_id[k].execution = eid
        return out


_EXCHANGE = re.compile(r"^[\s:+\-*]*\b(Exchange|BroadcastExchange)\b", re.M)


def exchanges_in_plan(plan: str) -> int:
    """Exchange nodes in the final (post-AQE) tree of a formatted plan."""
    tree = plan.split("+- == Initial Plan ==")[0].split("\n\n(")[0]
    return len(_EXCHANGE.findall(tree))


def span_of_job(job: Job) -> int | None:
    if job.group and job.group.startswith(GROUP_PREFIX):
        return int(job.group[len(GROUP_PREFIX):])
    return None


def attribute(
    harvest: Harvest, spans: list[Span], reattribute: dict[str, str] | None = None
) -> dict[int, str]:
    """Job id -> layer. A job belongs to the span whose id it carries.
    *reattribute* maps a job-name (call site) substring to a layer: every
    job of a SQL execution that has a job with such a name goes to that
    layer (the pipeline's own collect of the data-quality report belongs
    to ``report``). Jobs that carry no span are ``unattributed``."""
    layer_of = {s.id: s.layer for s in spans}
    out = {}
    moved: dict[int, str] = {}
    for job in harvest.jobs:
        for needle, layer in (reattribute or {}).items():
            if needle in job.name and job.execution is not None:
                moved[job.execution] = layer
    for job in harvest.jobs:
        sid = span_of_job(job)
        layer = layer_of.get(sid, "unattributed") if sid is not None else "unattributed"
        if job.execution in moved and layer != "unattributed":
            layer = moved[job.execution]
        out[job.id] = layer
    return out
