"""Spans recorded from outside the engine, at the calls into each layer.

A span has a name, start, end, parent and run id (one run id per traced
operation). Spans stay in memory; :meth:`Tracer.dump` writes them as
JSON when the benchmark ends. A layer's self time is its span's duration
minus the part of that interval its child spans cover.

Spark evaluates lazily, so :meth:`Tracer.layer` forces (materializes) a
layer's output DataFrame inside the layer's span: the next layer then
starts from computed rows and each span holds its own layer's work.
Row counts taken for the per-layer ratios run in ``trace.count`` child
spans, so they land in the tracing overhead, not in the layer.

With a SparkContext, every span runs its jobs under its own job group,
and the public status tracker gives the span's jobs, stages and tasks.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterator


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    counts: dict[str, float] = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals
    (clipped to the parent's own interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    def __init__(self, sc=None, clock: Callable[[], float] = time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run_id = ""

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.group(span), span.name)

    @staticmethod
    def group(span: Span) -> str:
        return f"perfbench-{span.run_id}-{span.id}"

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=self.clock(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent)

    def layer(self, name: str, fn, *args, count=None, **kwargs):
        """Call ``fn`` inside a span named ``name``, force its output,
        then run ``count(span, args, out)`` in a ``trace.count`` child."""
        with self.span(name) as s:
            out = fn(*args, **kwargs).localCheckpoint(eager=True)
            if count is not None:
                with self.span("trace.count"):
                    count(s, args, out)
        return out

    def wrap(self, name: str, fn, count=None):
        def traced(*args, **kwargs):
            return self.layer(name, fn, *args, count=count, **kwargs)

        return traced

    def run_spans(self, run_id: str) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]

    def spark_counts(self, spans: list[Span]) -> None:
        """Add jobs/stages/tasks/tasks_failed of each span's own job
        group to its counts (jobs of child spans stay with the child)."""
        if self.sc is None:
            return
        st = self.sc.statusTracker()
        for s in spans:
            jobs = st.getJobIdsForGroup(self.group(s))
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si is None:
                        continue
                    ran = si.numCompletedTasks + si.numFailedTasks
                    if ran:
                        stages += 1
                        tasks += ran
                        failed += si.numFailedTasks
            s.counts.update(
                {
                    "spark.jobs": len(jobs),
                    "spark.stages": stages,
                    "spark.tasks": tasks,
                    "spark.tasks_failed": failed,
                }
            )

    def dump(self, path: str) -> None:
        """Spans as JSON, times in seconds from the first span's start."""
        st = self_times(self.spans)
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            dict(asdict(s), start=s.start - t0, end=s.end - t0, self_s=st[s.id])
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
