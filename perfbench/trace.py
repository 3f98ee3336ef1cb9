"""In-memory spans around calls into the engine's public functions.

Spans are recorded from the benchmark's own files: either around a
block the benchmark drives itself (``Tracer.span``) or by temporarily
rebinding a public function on the module that calls it
(``Tracer.patched``), so no engine file changes. Spans stay in memory
and are written out once, at exit."""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from perfbench.stats import self_times


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        """Time a block; yields a dict the block may fill with counts."""
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        attrs: dict = {}
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "op": self.op, "start": start, "end": end,
                               "attrs": attrs})

    @contextmanager
    def patched(self, targets):
        """Rebind each ``(owner, attr, name, hook)`` to a wrapper
        that records a span around the original call, then calls
        ``hook(attrs, args, kwargs, result)`` outside the span. The
        originals are restored on exit."""
        saved = []
        try:
            for owner, attr, name, hook in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name, hook))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name, hook):
        """``name`` is a span name or a function of the call's args
        that returns one."""

        def wrapper(*args, **kwargs):
            with self.span(name(args) if callable(name) else name) as attrs:
                out = fn(*args, **kwargs)
            if hook is not None:
                hook(attrs, args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def self_time_by_name(self, op: int | None = None) -> dict[str, float]:
        """Summed self time per span name (of one operation if given)."""
        spans = [s for s in self.spans if op is None or s["op"] == op]
        st = self_times(spans)
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1,
                      default=str)


def spark_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            # a stage whose shuffle output was reused is skipped: no
            # task of it completes
            if si is not None and si.numCompletedTasks:
                stages += 1
                tasks += si.numCompletedTasks
    return {"spark.jobs": len(jobs), "spark.stages": stages,
            "spark.tasks": tasks}
