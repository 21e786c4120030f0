"""Spans recorded around calls into the engine's layers.

A span has a name, start, end, parent and call id. Spans that can run Spark
work get their own job group, so the jobs, stages and tasks Spark ran inside
them can be read back from ``statusTracker``. Spans stay in memory and are
written once, when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: Job group that work outside any traced span runs under.
IDLE_GROUP = "loopbench-idle"


@dataclass
class Span:
    id: int
    name: str
    call: int | None
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``sc`` (a SparkContext) enables job counts."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, call: int | None = None, jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        if call is None and parent is not None:
            call = parent.call
        s = Span(len(self.spans), name, call, parent.id if parent else None, 0.0)
        if jobs and self.sc is not None:
            s.group = f"loopbench-{s.id}"
            self.sc.setJobGroup(s.group, name)
        self.spans.append(s)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.group is not None:
                self.sc.setJobGroup(IDLE_GROUP, "")

    def resolve_counts(self, spans: list[Span]) -> None:
        """Fill jobs/stages/tasks of the given spans from ``statusTracker``,
        once Spark's listener bus has delivered every event so far."""
        if self.sc is None:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for s in spans:
            if s.group is None or s.counts:
                continue
            jobs = st.getJobIdsForGroup(s.group)
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    stages += 1
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
            s.counts = {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def self_seconds(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover (children
        of one span run one after another, so their durations add)."""
        own = {s.id: s.seconds for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.seconds
        return own

    def dump(self) -> list[dict]:
        own = self.self_seconds()
        return [dict(asdict(s), self_s=own[s.id]) for s in self.spans]
