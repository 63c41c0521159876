"""In-memory span tracing from outside the engine.

A span wraps one call into an engine module: name, start, end, parent span
and run id. Each span also runs its Spark jobs under a job group of its own,
so the jobs a call issued, and their stages' metrics from the status store,
can be attributed to it afterwards. Nothing in the engine is changed: the
benchmark rebinds the module attributes it wants to see (:meth:`Tracer.patch`)
and restores them after the traced window.

With tracing off the benchmark uses :data:`NO_TRACE`, whose spans do nothing.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    #: extra counts recorded at the boundary (e.g. files found)
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        #: innermost span opened by the main thread; the parent of spans
        #: opened on callback threads (foreachBatch runs on one)
        self._main_open: Span | None = None
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else self._main_open
        sp = Span(next(self._ids), name, parent.sid if parent else None, 0.0)
        sp.group = f"perfbench-{self.run_id}-{sp.sid}"
        sc = self.spark.sparkContext
        prior_group = sc.getLocalProperty(_GROUP_PROP)
        sc.setLocalProperty(_GROUP_PROP, sp.group)
        stack.append(sp)
        if threading.get_ident() == self._main:
            self._main_open = sp
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if threading.get_ident() == self._main:
                self._main_open = stack[-1] if stack else None
            sc.setLocalProperty(_GROUP_PROP, prior_group)
            self.spans.append(sp)

    def wrap(self, name: str, fn, count=None):
        """``fn`` traced as span ``name``; ``count(result)`` may return a
        dict of counts to record on the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if count is not None:
                    sp.counts.update(count(out))
                return out

        return traced

    def patch(self, module: str, attr: str, name: str, count=None) -> None:
        """Rebind ``module.attr`` to a traced wrapper until :meth:`unpatch`."""
        mod = importlib.import_module(module)
        original = getattr(mod, attr)
        self._patched.append((mod, attr, original))
        setattr(mod, attr, self.wrap(name, original, count))

    def unpatch(self) -> None:
        while self._patched:
            mod, attr, original = self._patched.pop()
            setattr(mod, attr, original)

    # ---- reading the spans back -------------------------------------------

    def drain(self) -> None:
        """Wait until the listener bus has delivered every finished job and
        stage to the status store."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        covered, edge = 0.0, sp.start
        for c in sorted(self.children(sp), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return sp.seconds - covered

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def jobs(self, spans: list[Span]) -> list[int]:
        tracker = self.spark.sparkContext.statusTracker()
        return sorted(j for s in spans for j in tracker.getJobIdsForGroup(s.group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Sum of stage metrics over the jobs' stages, from the status store
        (populated with the UI off). Stages skipped because their shuffle
        output was reused contribute nothing."""
        tracker = self.spark.sparkContext.statusTracker()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        totals = dict.fromkeys(
            ("stages", "executor_run_s", "input_bytes", "shuffle_bytes", "spill_bytes"), 0.0
        )
        seen = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # never attempted (skipped stage)
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                totals["stages"] += 1
                totals["executor_run_s"] += st.executorRunTime() / 1000.0
                totals["input_bytes"] += st.inputBytes()
                totals["shuffle_bytes"] += st.shuffleWriteBytes()
                totals["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return totals

    def dump(self) -> list[dict]:
        return [
            {
                "run": self.run_id,
                "id": s.sid,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_seconds(s),
                "jobs": self.jobs([s]),
                **({"counts": s.counts} if s.counts else {}),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


class _NoTrace:
    """Tracing off: spans cost one context-manager entry."""

    def span(self, name: str):
        return nullcontext()


NO_TRACE = _NoTrace()
