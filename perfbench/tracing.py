"""Tracing for the per-layer run: spans around the program's public
functions, and Spark's own counters read from outside.

Spans are recorded by wrapping module attributes from here, never by
editing the program: a wrapper replaces, for example,
``streaming.pipeline.dual_write_batch``, and the program picks it up
because it looks the name up at call time. Spans stay in memory until the
run ends. A span opened on a thread with no open span (the
``foreachBatch`` callback thread) is parented to ``detached_parent``, the
drain span the main thread holds open while it waits.

``SparkCounters`` reads job and stage counts as deltas between two marks,
straight from the DAG scheduler's id counters and the ``AppStatusStore``
stage entries created in between, so a long run never depends on
``spark.ui.retainedJobs`` keeping old entries.
"""

from __future__ import annotations

import functools
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: Span | None = None
    children: list[Span] = field(default_factory=list)
    result: object = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)


class Tracer:
    """In-memory span recorder. ``overhead_s`` accumulates the time spent
    in the tracer's own bookkeeping and counter reads."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.detached_parent: Span | None = None
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def charge(self, seconds: float) -> None:
        """Add tracer time; spans close on the callback thread too."""
        with self._lock:
            self.overhead_s += seconds

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, layer: str) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.detached_parent
        span = Span(name, layer, 0.0, parent=parent)
        with self._lock:
            self.spans.append(span)
            if parent is not None:
                parent.children.append(span)
        stack.append(span)
        span.start = time.perf_counter()
        self.charge(span.start - t0)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        self.charge(time.perf_counter() - span.end)

    def wrap(self, owner: object, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        after the function and keeps its return value on the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(attr, layer)
            try:
                span.result = fn(*args, **kwargs)
                return span.result
            finally:
                self.close(span)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def named(self, name: str, since: int = 0) -> list[Span]:
        return [s for s in self.spans[since:] if s.name == name]

    def self_time_by_layer(self, since: int = 0) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans[since:]:
            out[s.layer] = out.get(s.layer, 0.0) + s.self_seconds()
        return out


@dataclass(frozen=True)
class Mark:
    jobs: int
    stages: int
    gc_ms: int


class SparkCounters:
    """Job, stage, task, shuffle and GC counts between two marks."""

    def __init__(self, spark, tracer: Tracer) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gc = list(spark._jvm.java.lang.management.ManagementFactory
                        .getGarbageCollectorMXBeans())
        self._tracer = tracer

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc)

    def mark(self) -> Mark:
        t0 = time.perf_counter()
        m = Mark(self._dag.numTotalJobs(), self._dag.nextStageId(),
                 self._gc_ms())
        self._tracer.charge(time.perf_counter() - t0)
        return m

    def since(self, mark: Mark) -> dict[str, float]:
        t0 = time.perf_counter()
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        tasks = run_ms = shuffle_b = input_rows = 0
        end_stage = self._dag.nextStageId()
        for sid in range(mark.stages, end_stage):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never submitted
                continue
            tasks += s.numCompleteTasks()
            run_ms += s.executorRunTime()
            shuffle_b += s.shuffleWriteBytes()
            input_rows += s.inputRecords()
        out = {
            "jobs": self._dag.numTotalJobs() - mark.jobs,
            "stages": end_stage - mark.stages,
            "tasks": tasks,
            "executor_run_s": run_ms / 1e3,
            "shuffle_write_mb": shuffle_b / 1e6,
            "input_rows": input_rows,
            "gc_s": (self._gc_ms() - mark.gc_ms) / 1e3,
        }
        self._tracer.charge(time.perf_counter() - t0)
        return out


def add_counts(total: dict[str, float], part: dict[str, float]) -> None:
    for k, v in part.items():
        total[k] = total.get(k, 0) + v
