"""Span recorder for the traced run.

A span is one timed call from the benchmark into a layer of the engine:
name, start, end, parent span and run id, plus the Spark jobs and stages it
ran. Spark work is attributed through job groups: each span sets its own
group on the calling thread (``SparkContext.setJobGroup``) and afterwards
reads ``statusTracker().getJobIdsForGroup`` and each job's ``stageIds``.
Work that runs on another thread (the webapp's request handler) carries no
group; :meth:`Tracer.span` counts it with ``ungrouped=True`` as the change
in ungrouped jobs across the span.

Spans stay in memory and are written once, at the end of the run. The time
the recorder spends on its own bookkeeping (job groups, status queries) is
summed in ``overhead``: what tracing adds to the traced run's wall time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead = 0.0
        self._stack: list[dict] = []

    def _counts(self, group: str | None) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = st.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        return len(jobs), stages

    @contextmanager
    def span(self, name: str, ungrouped: bool = False, **attrs):
        """Time the body as span ``name``; yields its record (a dict the
        body may add counts to) or None when tracing is off."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + len(self._stack),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **attrs,
        }
        group = f"{self.run_id}/{rec['id']}"
        before = self._counts(None) if ungrouped else (0, 0)
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        self.overhead += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            jobs, stages = self._counts(group)
            if ungrouped:
                after = self._counts(None)
                jobs, stages = jobs + after[0] - before[0], stages + after[1] - before[1]
            rec["spark_jobs"], rec["spark_stages"] = jobs, stages
            self.spans.append(rec)
            self.overhead += time.perf_counter() - rec["end"]

    def _named(self, name: str, where: dict) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and all(s.get(k) == v for k, v in where.items())]

    def duration(self, name: str, **where) -> float:
        """Summed duration of every span called ``name`` whose attributes
        match ``where``."""
        return sum(s["end"] - s["start"] for s in self._named(name, where))

    def total(self, name: str, key: str, **where) -> int:
        """Summed count ``key`` over the same spans."""
        return sum(s.get(key, 0) for s in self._named(name, where))

    def self_time(self, name: str, inputs: tuple[str, ...] = (), **where) -> float:
        """A layer's self time: the time to force its output minus the time
        to force its inputs (each forced by its own span)."""
        return self.duration(name, **where) - sum(self.duration(i, **where) for i in inputs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
