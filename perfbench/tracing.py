"""Spans and per-request Spark job accounting for the traced run.

A span is recorded around each layer call the benchmark makes: name, start,
end, parent span, request id, plus the Spark jobs, stages and tasks that the
call launched.  Each traced call runs under its own Spark job group, so the
counts come from ``SparkContext.statusTracker()``.  Spans stay in memory
and are written out as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class JobCounter:
    """Runs each call under a fresh job group and counts what it launched."""

    def __init__(self, sc):
        self.sc = sc
        self._next = 0

    @contextmanager
    def group(self, desc: str):
        gid = f"perfbench-{self._next}"
        self._next += 1
        counts: dict = {}
        self.sc.setJobGroup(gid, desc)
        try:
            yield counts
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            counts.update(self._count(gid))

    def _count(self, gid: str) -> dict:
        # job and stage events reach the status store through the listener
        # bus asynchronously; drain it so every job of the group is visible
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        stages: set[int] = set()
        jobs = st.getJobIdsForGroup(gid)
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        ran = 0
        for sid in stages:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks + s.numFailedTasks:
                ran += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks}


class Tracer:
    """Times layer calls; when enabled also records spans and job counts.

    A disabled tracer sets no job group and keeps no spans, so the
    end-to-end run measures the program with tracing off."""

    def __init__(self, sc, enabled: bool):
        self.enabled = enabled
        self.jobs = JobCounter(sc) if enabled else None
        self.spans: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, req: str, parent: int | None = None, **attrs):
        rec = {"id": self._next, "name": name, "req": req, "parent": parent,
               **attrs}
        self._next += 1
        if not self.enabled:
            rec["start"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
            return
        with self.jobs.group(name) as counts:
            rec["start"] = time.perf_counter()
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
        rec.update(counts)
        self.spans.append(rec)

    def add(self, name: str, req: str, parent: int, start: float,
            end: float, **attrs) -> None:
        """Record a span measured elsewhere (a build stage read from the
        lineage WAL)."""
        if self.enabled:
            self.spans.append({"id": self._next, "name": name, "req": req,
                               "parent": parent, "start": start, "end": end,
                               **attrs})
            self._next += 1

    def self_ms(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover.

        A child either runs inside its parent's interval or, for a replayed
        search, replays the parent's work after it; both count against the
        parent, so the child's whole duration is subtracted."""
        child_ms: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1000
        return {s["id"]: (s["end"] - s["start"]) * 1000 - child_ms[s["id"]]
                for s in self.spans}

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, sort_keys=True) + "\n")
