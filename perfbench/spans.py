"""Spans and Spark job counts recorded around calls into sparkfts layers.

A span is (name, layer, start, end, parent, op): ``op`` is shared by the
spans of one query, one micro-batch or one fold. Spans are kept in
memory and written out once, at the end of the run. Spark jobs, stages
and tasks are counted by job id through ``SparkContext.statusTracker``.
"""
from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class JobCounter:
    """Counts the Spark jobs, stages and tasks started inside a ``with``
    block: every job id the scheduler hands out between entering and
    leaving it. The benchmark has one client thread, so these are the
    block's jobs, also those a library call submits from a thread of its
    own (which a job group set on the calling thread would miss)."""

    def __init__(self, sc):
        self.sc = sc

    def next_job_id(self) -> int:
        return self.sc._jsc.sc().dagScheduler().numTotalJobs()

    @contextmanager
    def counting(self):
        box = {"jobs": 0, "stages": 0, "tasks": 0}
        first = self.next_job_id()
        yield box
        box.update(self.count(range(first, self.next_job_id())))

    def count(self, job_ids) -> dict:
        # job events reach the status store through the asynchronous
        # listener bus; drain it so a job that just ended is counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tr = self.sc.statusTracker()
        stages = tasks = 0
        for j in job_ids:
            info = tr.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = tr.getStageInfo(s)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool, jobs: JobCounter):
        self.enabled = enabled
        self.jobs = jobs
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ops = itertools.count()

    def new_op(self) -> int:
        return next(self._ops)

    @contextmanager
    def span(self, name: str, layer: str, op: int | None = None,
             count_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "layer": layer, "op": op,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            if count_jobs:
                with self.jobs.counting() as box:
                    rec["start"] = time.perf_counter()
                    try:
                        yield rec
                    finally:
                        rec["end"] = time.perf_counter()
                rec.update(box)
            else:
                rec["start"] = time.perf_counter()
                try:
                    yield rec
                finally:
                    rec["end"] = time.perf_counter()
        finally:
            self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span durations minus the time their child spans
        cover (children of one span run one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = (s["end"] - s["start"]) - child[i]
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
