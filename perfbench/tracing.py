"""Span recorder for the traced benchmark runs.

Spans are recorded at wrappers the benchmark installs around the
public functions of each layer; the program itself carries no tracing
code.  A span is (name, start, end, parent, statement id).  Repeated
calls of one layer inside one statement (one per row or per packet)
are coalesced into a single span that also carries the call count and
the summed self time, which keeps a 100k-row export at a few spans.

Self time is a span's duration minus the part covered by its child
spans.  Nesting is tracked per thread, which is exact for the
synchronous functions wrapped here; asynchronous functions are
recorded as leaves.
"""

from __future__ import annotations

import contextvars
import itertools
import json
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

_clock = time.perf_counter


class Tracer:
    def __init__(self):
        self.enabled = False
        self.stmt = contextvars.ContextVar("stmt", default=0)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._tables: list[dict] = []
        self.counters: dict[str, float] = {}

    def new_statement(self) -> int:
        sid = next(self._ids)
        self.stmt.set(sid)
        return sid

    def _table(self) -> dict:
        t = getattr(self._local, "spans", None)
        if t is None:
            t = self._local.spans = {}
            with self._lock:
                self._tables.append(t)
        return t

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def record(self, name: str, t0: float, t1: float, self_s: float,
               parent: str | None) -> None:
        key = (self.stmt.get(), name, parent)
        table = self._table()
        span = table.get(key)
        if span is None:
            table[key] = [t0, t1, self_s, 1]
        else:
            span[1] = t1
            span[2] += self_s
            span[3] += 1

    def count(self, name: str, n: float) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def sync(self, name: str, fn: Callable) -> Callable:
        """Wrap a synchronous function as a span named ``name``."""
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack()
            frame = [name, 0.0]
            stack.append(frame)
            t0 = _clock()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = _clock()
                stack.pop()
                dur = t1 - t0
                parent = stack[-1] if stack else None
                if parent is not None:
                    parent[1] += dur
                self.record(name, t0, t1, dur - frame[1],
                            parent[0] if parent else None)
        wrapper.__wrapped__ = fn
        return wrapper

    def leaf_async(self, name: str, fn: Callable, when: Callable[[], bool]) -> Callable:
        """Wrap a coroutine function as a leaf span, recorded only while
        ``when()`` holds at call time."""
        async def wrapper(*args, **kwargs):
            if not (self.enabled and when()):
                return await fn(*args, **kwargs)
            t0 = _clock()
            try:
                return await fn(*args, **kwargs)
            finally:
                t1 = _clock()
                self.record(name, t0, t1, t1 - t0, None)
        wrapper.__wrapped__ = fn
        return wrapper

    def iterator(self, first: str, rest: str, it):
        """Wrap an iterator: its first ``next`` is a span named
        ``first``, every later one ``rest``."""
        tracer = self

        class _It:
            def __init__(self):
                self.started = False

            def __iter__(self):
                return self

            def __next__(self):
                if not tracer.enabled:
                    return next(it)
                stack = tracer._stack()
                frame = [rest if self.started else first, 0.0]
                stack.append(frame)
                t0 = _clock()
                try:
                    return next(it)
                finally:
                    t1 = _clock()
                    stack.pop()
                    dur = t1 - t0
                    parent = stack[-1] if stack else None
                    if parent is not None:
                        parent[1] += dur
                    tracer.record(frame[0], t0, t1, dur - frame[1],
                                  parent[0] if parent else None)
                    self.started = True

        return _It()

    def generator(self, name: str, gen):
        """Wrap a generator: each ``next`` is a span named ``name``."""
        step = self.sync(name, gen.__next__)

        def run():
            while True:
                try:
                    yield step()
                except StopIteration:
                    return

        return run()

    def reset(self) -> None:
        with self._lock:
            for t in self._tables:
                t.clear()
            self.counters = {}

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        out: dict[str, float] = {}
        with self._lock:
            for table in self._tables:
                for (_, name, _), (_, _, self_s, _) in list(table.items()):
                    out[name] = out.get(name, 0.0) + self_s
        return out

    def dump(self, path: str) -> int:
        """Write every span as one JSON line; return the span count."""
        n = 0
        with self._lock, open(path, "w") as f:
            for table in self._tables:
                for (stmt, name, parent), (t0, t1, self_s, calls) in list(table.items()):
                    f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                        "parent": parent, "stmt": stmt,
                                        "self_s": self_s, "calls": calls}) + "\n")
                    n += 1
        return n


class TracingExecutor(ThreadPoolExecutor):
    """Executor that carries the submitting context (the statement id)
    into the worker thread and records each job's queue wait."""

    def __init__(self, tracer: Tracer, max_workers: int):
        super().__init__(max_workers=max_workers)
        self.tracer = tracer

    def submit(self, fn, /, *args, **kwargs):
        tracer = self.tracer
        if not tracer.enabled:
            return super().submit(fn, *args, **kwargs)
        ctx = contextvars.copy_context()
        t_submit = _clock()

        def run():
            t_start = _clock()
            ctx.run(tracer.record, "server.queue_wait", t_submit, t_start,
                    t_start - t_submit, None)
            return ctx.run(fn, *args, **kwargs)

        return super().submit(run)


class Patcher:
    """Replace attributes and put the originals back."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._saved:
            owner, attr, value = self._saved.pop()
            setattr(owner, attr, value)


def spark_job_counts(sc, groups: list[str], after_job: int) -> dict[str, int]:
    """Jobs, stages and tasks that ran under ``groups`` with a job id
    above ``after_job`` (the status tracker keeps recent jobs only;
    a phase is far below its retention limit)."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = 0
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            if jid <= after_job:
                continue
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                stages += 1
                tasks += st.numTasks if st is not None else 0
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def max_job_id(sc, groups: list[str]) -> int:
    tracker = sc.statusTracker()
    return max((j for g in groups for j in tracker.getJobIdsForGroup(g)), default=-1)
