"""In-memory span tracer for the traced benchmark run.

A span records name, start, end, parent span, request id and the Spark
jobs it started. The outermost span on a thread sets a Spark job group;
nested spans on that thread see which jobs of the group appeared while
they were open. Stage and task counts are resolved from
``SparkContext.statusTracker()`` once, at the end, so the measured calls
pay only two tracker lookups per span.

``Tracer.patch`` wraps functions of the program's modules (``module``,
attribute name) for the duration of a ``with`` block, so a call made
inside the program (the search facade calling the top-k planner, say) is
traced from here without touching the program's own code.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Span:
    __slots__ = ("sid", "name", "parent", "rid", "start", "end", "group", "jobs", "attrs")

    def __init__(self, sid, name, parent, rid, group, attrs):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.rid = rid
        self.group = group
        self.attrs = attrs
        self.jobs: list[int] = []
        self.start = self.end = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """``enabled=False`` makes every span a no-op, so the untraced run
    executes the same benchmark code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if parent is None:
            group = f"bench-span-{sid}"
            self.sc.setJobGroup(group, name)
            before: set[int] = set()
        else:
            group = parent.group
            before = self._group_jobs(group)
        s = Span(sid, name, parent.sid if parent else None,
                 rid if rid is not None else (parent.rid if parent else None),
                 group, attrs)
        stack.append(s)
        t1 = time.perf_counter()
        s.start = t1
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = sorted(self._group_jobs(group) - before)
            stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(s)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - s.end)

    @contextlib.contextmanager
    def patch(self, targets):
        """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each
        ``(owner, attr, name)`` in ``targets``; restore on exit."""
        saved = []
        try:
            for owner, attr, name in targets if self.enabled else ():
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return inner

    # -- resolution ----------------------------------------------------------

    def resolve(self) -> dict[int, tuple[int, int]]:
        """job id -> (stages, tasks) for every job any span saw."""
        tracker = self.sc.statusTracker()
        out = {}
        for jid in sorted({j for s in self.spans for j in s.jobs}):
            info = tracker.getJobInfo(jid)
            stages = list(info.stageIds) if info is not None else []
            tasks = 0
            for sid in stages:
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
            out[jid] = (len(stages), tasks)
        return out

    def self_ms(self, span: Span, children: dict[int, list[Span]]) -> float:
        """Span duration minus the part of it covered by its children."""
        iv = sorted((c.start, c.end) for c in children.get(span.sid, ()))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, span.end - span.start - covered) * 1000.0

    def dump(self, path: str, jobs: dict[int, tuple[int, int]]) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {
                "id": s.sid, "name": s.name, "parent": s.parent, "rid": s.rid,
                "start_ms": round((s.start - t0) * 1000, 3),
                "end_ms": round((s.end - t0) * 1000, 3),
                "jobs": len(s.jobs),
                "stages": sum(jobs.get(j, (0, 0))[0] for j in s.jobs),
                "tasks": sum(jobs.get(j, (0, 0))[1] for j in s.jobs),
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "overhead_ms": self.overhead_s * 1000}, f)
