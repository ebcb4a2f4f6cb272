"""Spans recorded from outside the program, with Spark job and stage counters.

A span times one call into a layer.  Spans nest: a call made while another
span is open becomes its child, and a span's self time is its duration minus
its children's durations.  Every span tags the Spark jobs it launches with
its own job group (``setJobGroup``), so a span's jobs are the jobs its own
code launched, not its children's.  The Spark UI is off, so the counters are
read from the driver's status store (``statusTracker`` for job ids,
``statusStore().lastStageAttempt`` for stage metrics), once, when the run
ends; while the run measures, a span costs two ``setJobGroup`` calls.

Work the benchmark adds only to observe a layer (row counts, file listings)
runs under ``Tracer.aux``: its time is taken out of the enclosing spans' self
time, and its jobs go to a group no span owns.
"""

from __future__ import annotations

import contextlib
import functools
import statistics
import time
from dataclasses import dataclass, field

_AUX_GROUP = "perfbench-aux"


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    aux_s: float = 0.0
    counts: dict = field(default_factory=dict)
    # filled in by Tracer.resolve()
    jobs: int = 0
    stages: int = 0
    executor_cpu_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0

    @property
    def duration_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration_s - self.child_s - self.aux_s


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, f"perfbench-{idx}", 0.0)
        self.spans.append(s)
        self._stack.append(idx)
        self._set_group(s.group)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += s.duration_s
            self._set_group(self.spans[parent].group if parent is not None else None)

    @contextlib.contextmanager
    def aux(self):
        """Observation work: excluded from every open span's self time."""
        t0 = time.perf_counter()
        self._set_group(_AUX_GROUP)
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            if self._stack:
                top = self.spans[self._stack[-1]]
                top.aux_s += dt
                self._set_group(top.group)
            else:
                self._set_group(None)

    def wrap(self, obj, attr: str, name: str):
        """Replace ``obj.attr`` by a version that runs inside a span named
        ``name``.  Returns a function that restores the original."""
        orig = getattr(obj, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(obj, attr, traced)
        return lambda: setattr(obj, attr, orig)

    def resolve(self, stage_metrics: bool) -> None:
        """Fill every span's job (and optionally stage) counters."""
        # job and stage events reach the status store asynchronously
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            job_ids = tracker.getJobIdsForGroup(s.group)
            s.jobs = len(job_ids)
            if not stage_metrics:
                continue
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    s.stages += 1
                    s.executor_cpu_ms += sd.executorCpuTime() / 1e6
                    s.input_bytes += sd.inputBytes()
                    s.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span opened while it was open."""
        i = self.spans.index(root)
        out, members = [root], {i}
        for j in range(i + 1, len(self.spans)):
            if self.spans[j].parent in members:
                members.add(j)
                out.append(self.spans[j])
        return out


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default
