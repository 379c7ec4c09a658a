"""In-memory spans recorded around calls into the program's layers.

A span holds its name, start, end, parent span and counts. When a
SparkContext is given, every span runs its calls under a job group of its
own and, at its end, reads the jobs, stages and tasks of that group from
``statusTracker()`` (which works with the Spark UI off). A parent's Spark
counts are its own group's plus its children's. Spans stay in memory
until ``write``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPARK_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **counts):
        s = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1].id if self._stack else None,
            counts=dict(counts),
        )
        self.spans.append(s)
        group = "perfbench-%d" % s.id
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                own = self._spark_counts(group)
                for k in SPARK_COUNTS:
                    s.counts[k] = own[k] + sum(
                        c.counts.get(k, 0) for c in self.spans if c.parent == s.id
                    )
                if self._stack:
                    self.sc.setJobGroup("perfbench-%d" % self._stack[-1].id, self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def _spark_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for sid in stage_ids:
            si = st.getStageInfo(sid)
            # skipped stages (shuffle output reused) ran no task
            if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                continue
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
