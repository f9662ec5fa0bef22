"""Span recorder for the traced run.

The recorder wraps the package's public functions at their module
attributes, from the benchmark's side: no source edits. Every loaded
``bridgedownstream_spark`` module that imported a wrapped function by name
gets the wrapper too, so calls through ``from x import f`` aliases are seen.

A span records name, start, end, parent span, op id and thread, plus the
Spark job-id delta across it and any counts a ``count`` hook returns.
Spans stay in memory; :meth:`Tracer.dump` writes them out once.

A function that returns a lazy DataFrame only builds a plan, so its span
times plan building; execution lands in the span of the sink that
triggers it.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PACKAGE = "bridgedownstream_spark"


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    thread: str
    start: float
    end: float = 0.0
    jobs: int = 0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class Tracer:
    """Collects spans; :meth:`wrap` patches a target in place and
    :meth:`uninstall` restores the originals."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = ""
        self.enabled = False
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._restore: list[Callable[[], None]] = []
        self.jobs: dict[str, range] = {}

    def _jobs_submitted(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().numTotalJobs())

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        """Record one span. In a worker thread with no open span (stage-2
        pool threads, the streaming batch thread) the parent is the main
        thread's innermost open span: the call that spawned the work."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        with self._lock:
            sp = Span(
                id=next(self._ids),
                name=name,
                op=self.op,
                parent=parent.id if parent else None,
                thread=threading.current_thread().name,
                start=0.0,
            )
        jobs0 = self._jobs_submitted()
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            sp.jobs = self._jobs_submitted() - jobs0
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def phase(self, op: str):
        """Trace everything inside under op id ``op``; keeps the range of
        Spark job ids the phase submitted in ``self.jobs[op]``."""
        self.op, self.enabled = op, True
        first = self._jobs_submitted()
        try:
            yield
        finally:
            self.enabled = False
            self.jobs[op] = range(first, self._jobs_submitted())

    def spark_counts(self, op: str) -> dict[str, int]:
        """Jobs, stages and tasks run by a phase, from ``statusTracker``."""
        st = self._sc.statusTracker()
        stages = tasks = 0
        for j in self.jobs[op]:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks:
                    stages += 1
                    tasks += stage.numCompletedTasks
        return {"jobs": len(self.jobs[op]), "stages": stages, "tasks": tasks}

    def _wrapper(self, orig, span_name: str, count=None, before=None):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            state = before(*args, **kwargs) if (before and self.enabled) else None
            with self.span(span_name) as sp:
                result = orig(*args, **kwargs)
            if sp is not None and count is not None:
                sp.counts.update(count(state, result, *args, **kwargs))
            return result

        return wrapper

    def wrap(
        self,
        module: str,
        attr: str,
        count: Callable[..., dict[str, float]] | None = None,
        before: Callable[..., object] | None = None,
        name: str | None = None,
    ) -> None:
        """Replace ``module.attr`` (``attr`` may be ``Class.method``) with a
        span-recording wrapper named ``name``, by default ``module.attr``
        without the package prefix and class. ``before(*args, **kw)`` runs
        before the call, outside the span; ``count(state, result, *args,
        **kw)`` runs after it, also outside, and returns counts for the
        span."""
        mod = importlib.import_module(f"{PACKAGE}.{module}")
        owner, key = mod, attr
        if "." in attr:
            cls, key = attr.split(".")
            owner = getattr(mod, cls)
        orig = getattr(owner, key)
        wrapper = self._wrapper(
            orig, name or f"{module}.{attr.split('.')[-1]}", count, before
        )
        targets = [(owner, key)]
        if owner is mod:  # every alias bound by ``from mod import attr``
            for m_name, m in list(sys.modules.items()):
                if m_name.startswith(PACKAGE) and m is not mod:
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            targets.append((m, k))
        for obj, k in targets:
            self._restore.append(functools.partial(setattr, obj, k, getattr(obj, k)))
            setattr(obj, k, wrapper)

    def wrap_entry(
        self,
        mapping: dict,
        key: str,
        name: str,
        count: Callable[..., dict[str, float]] | None = None,
    ) -> None:
        """Wrap the callable a registry entry ``mapping[key] = (fn, *rest)``
        holds, for callers that look it up at call time."""
        fn, *rest = entry = mapping[key]
        self._restore.append(functools.partial(mapping.__setitem__, key, entry))
        mapping[key] = (self._wrapper(fn, name, count), *rest)

    def uninstall(self) -> None:
        for restore in reversed(self._restore):
            restore()
        self._restore.clear()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                row = asdict(s)
                row["self_s"] = self_time(s, self.children(s))
                fh.write(json.dumps(row) + "\n")
