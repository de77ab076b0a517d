"""Tracing from outside the program: wrap public functions of the engine's
layers, tag each operation with a Spark job group, and keep every span in
memory until the run ends.

A span is ``(name, start, end, parent, request)``; spans in one thread nest
through a thread-local stack, and an operation (one HTTP request, one
lifecycle step) gives its spans a shared request id.  Job, stage and task
counts per operation come from ``SparkContext.statusTracker()`` after the
operation's job group has finished.  The tracer times its own bookkeeping,
so the run can report how much tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from typing import Any


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[tuple] = []  # (id, name, start, end, parent, request)
        self.ops: list[tuple] = []  # (kind, request, job group)
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        req = getattr(self._local, "request", None)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t1, t2, parent, req))
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def patch(self, owner: Any, attr: str, name: str, *aliases: Any) -> None:
        """Replace ``owner.attr`` (and the same name in each module of
        ``aliases`` that imported it) by a wrapper that records a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        for target in (owner, *aliases):
            self.replace(target, attr, traced)

    def replace(self, owner: Any, attr: str, replacement: Any) -> None:
        """Swap ``owner.attr`` for ``replacement`` until :meth:`restore`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for target, attr, fn in reversed(self._patched):
            setattr(target, attr, fn)
        self._patched.clear()

    # -- operations ---------------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str, request: str | None = None):
        """One operation: a root span named ``op.<kind>`` whose Spark jobs
        run under their own job group."""
        t0 = time.perf_counter()
        request = request or f"{kind}-{next(self._ids)}"
        group = f"perfbench-{request}"
        self._local.request = request
        self.sc.setJobGroup(group, kind)
        with self._lock:
            self.overhead_s += time.perf_counter() - t0
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            t1 = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._local.request = None
            with self._lock:
                self.ops.append((kind, request, group))
                self.overhead_s += time.perf_counter() - t1

    def job_counts(self, settle_s: float = 1.0) -> dict[str, list[tuple[int, int, int]]]:
        """``{kind: [(jobs, stages, tasks) per operation]}``, read once the
        status store has caught up with the last job."""
        t0 = time.perf_counter()
        time.sleep(settle_s)
        st = self.sc.statusTracker()
        out: dict[str, list[tuple[int, int, int]]] = defaultdict(list)
        for kind, _, group in self.ops:
            jobs = st.getJobIdsForGroup(group)
            stages: set[int] = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            ran = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None and info.numCompletedTasks > 0:
                    ran += 1
                    tasks += info.numCompletedTasks
            out[kind].append((len(jobs), ran, tasks))
        with self._lock:
            self.overhead_s += time.perf_counter() - t0 - settle_s
        return dict(out)

    # -- summaries ------------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        """Wall seconds of every span called ``name`` inside an operation
        (spans outside one, such as set-up work, are only written out)."""
        return [end - start for _, n, start, end, _, req in self.spans
                if n == name and req is not None]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, over spans inside an
        operation: a span's duration minus the part its child spans cover."""
        spans = [s for s in self.spans if s[5] is not None]
        child = defaultdict(float)
        for _, _, start, end, parent, _ in spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for sid, name, start, end, _, _ in spans:
            out[name] += (end - start) - child[sid]
        return dict(out)

    def self_ms_per_op(self) -> dict[str, float]:
        """Self time per layer (the module a span's name starts with),
        in milliseconds per operation."""
        out: dict[str, float] = defaultdict(float)
        for name, secs in self.self_times().items():
            if name.startswith("op."):
                continue  # the operation's root span: the benchmark's own time
            parts = name.split(".")
            depth = 2 if parts[0] in ("functions", "operators", "sources", "streaming") else 1
            out[".".join(parts[:depth])] += 1e3 * secs / max(1, len(self.ops))
        return dict(sorted(out.items(), key=lambda kv: -kv[1]))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": s[0], "name": s[1], "start": s[2], "end": s[3],
                         "parent": s[4], "request": s[5]}
                        for s in self.spans
                    ],
                    "ops": [{"kind": k, "request": r, "job_group": g} for k, r, g in self.ops],
                },
                f,
            )

