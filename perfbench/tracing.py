"""Spans around the benchmark's calls into each layer of the package.

A traced pass runs each span under its own Spark job group, so the
status tracker can attribute jobs and completed tasks to it, and reads
the process tree's CPU time at its edges. `pin` materializes a span's
output inside the span, so the work lands where it is called. Spans and
counts stay in memory until `metrics` is read once at the end.

The untraced tracer does nothing: no job groups, no barriers, no counts.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

from procfs import tree_cpu_seconds


@dataclass
class Span:
    name: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    child_wall_s: float = 0.0
    child_cpu_s: float = 0.0


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def pin(self, df):
        return df

    def count(self, name: str, df) -> None:
        pass

    def value(self, name: str, v: float) -> None:
        pass


@dataclass
class Tracer:
    spark: object
    cores: int
    spans: dict[str, Span] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[str] = field(default_factory=list)

    def _set_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time one call into a layer. A span opened inside another is
        its child: the parent's self time excludes it, and its jobs go to
        its own group, not the parent's."""
        sp = self.spans.setdefault(name, Span(name))
        self._stack.append(name)
        self._set_group(name)
        root = os.getpid()
        cpu0, t0 = tree_cpu_seconds(root), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            cpu = tree_cpu_seconds(root) - cpu0
            sp.wall_s += wall
            sp.cpu_s += cpu
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent is not None:
                self.spans[parent].child_wall_s += wall
                self.spans[parent].child_cpu_s += cpu
            self._set_group(parent)

    def pin(self, df):
        return df.localCheckpoint(eager=True)

    def count(self, name: str, df) -> None:
        self.counts[name] = df.count()

    def value(self, name: str, v: float) -> None:
        self.counts[name] = v

    def metrics(self) -> dict[str, float]:
        """Per span: self time `<span>_s`, `<span>.jobs`, `<span>.tasks`
        (completed tasks) and `<span>.cpu_util` (process-tree CPU seconds
        over self wall x cores); then the recorded counts."""
        sc = self.spark.sparkContext
        # job and stage records arrive through the listener bus; drain it
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        out: dict[str, float] = {}
        for name, sp in self.spans.items():
            jobs = tracker.getJobIdsForGroup(name)
            tasks = 0
            for job in jobs:
                info = tracker.getJobInfo(job)
                for stage in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(stage)
                    tasks += st.numCompletedTasks if st else 0
            wall = sp.wall_s - sp.child_wall_s
            cpu = sp.cpu_s - sp.child_cpu_s
            out[f"{name}_s"] = wall
            out[f"{name}.jobs"] = len(jobs)
            out[f"{name}.tasks"] = tasks
            # /proc counts CPU in 10 ms ticks: too coarse for a span
            # shorter than a tenth of a second across all cores
            out[f"{name}.cpu_util"] = cpu / (wall * self.cores) if wall * self.cores >= 0.1 else 0.0
        out.update(self.counts)
        return out
