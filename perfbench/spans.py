"""Spans for the traced run, recorded from the benchmark's side of each
layer call.

A span has a name, start, end, parent and the run id.  Spans are kept in
memory and reduced once at the end.  Each span tags its Spark jobs with
``setJobGroup`` so stage and failed-task counts can be read back from the
status tracker, outside the program.  Layers return lazy DataFrames, so a
wrapped layer materializes its result at its boundary (a local checkpoint):
its span then covers the layer's own work and later layers start from the
stored rows.  A span's self time is its duration minus the part of it
that its children cover.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}.{self.sid}"


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self.root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span.  Threads started by the program carry no stack of
        their own; their spans hang off the operation's root span."""
        stack = self._stack()
        parent = stack[-1].sid if stack else self.root
        with self._lock:
            sp = Span(len(self.spans), name, parent, self.run_id,
                      time.perf_counter())
            self.spans.append(sp)
            if self.root is None:
                self.root = sp.sid
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    @staticmethod
    def materialize(df):
        """Compute ``df`` at a layer boundary and cut its lineage; returns
        the materialized DataFrame and its row count.  Cutting the lineage
        keeps each later layer's plan to its own operators, so a layer is
        charged for planning its own work only."""
        done = df.localCheckpoint(eager=True)
        return done, done.count()

    def layer(self, name: str, extra=None):
        """Wrapper factory for a layer function: span ``name`` around the
        call, materialize the result, and record its row count plus the
        counts ``extra(result)`` returns."""
        def wrap(fn):
            def inner(*args, **kw):
                with self.span(name) as sp:
                    out, sp.counts["rows"] = self.materialize(fn(*args, **kw))
                    if extra:
                        sp.counts.update(extra(out))
                return out
            return inner
        return wrap

    # -- reduction ----------------------------------------------------------

    def self_seconds(self, span: Span) -> float:
        lo, hi = span.start, span.end
        cover = sorted((max(c.start, lo), min(c.end, hi)) for c in self.spans
                       if c.parent == span.sid and c.end > lo and c.start < hi)
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in cover:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (hi - lo) - covered

    def stage_counts(self, span: Span) -> tuple[int, int]:
        """(stages run, tasks failed) of the jobs tagged with the span."""
        tracker = self.spark.sparkContext.statusTracker()
        stages = failed = 0
        for job_id in tracker.getJobIdsForGroup(span.group):
            job = tracker.getJobInfo(job_id)
            for stage_id in (job.stageIds if job else ()):
                info = tracker.getStageInfo(stage_id)
                if info is None or (info.numCompletedTasks
                                    + info.numFailedTasks) == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                failed += info.numFailedTasks
        return stages, failed

    def by_name(self) -> dict[str, dict]:
        """Per span name: summed self seconds, stages, failed tasks, and
        summed counts."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(sp.name, {"s": 0.0, "stages": 0,
                                           "tasks_failed": 0, "counts": {}})
            agg["s"] += self.self_seconds(sp)
            stages, failed = self.stage_counts(sp)
            agg["stages"] += stages
            agg["tasks_failed"] += failed
            for key, value in sp.counts.items():
                agg["counts"][key] = agg["counts"].get(key, 0) + value
        return out


@contextlib.contextmanager
def _patched(target, name: str, wrapper):
    original = getattr(target, name)
    setattr(target, name, wrapper(original))
    try:
        yield
    finally:
        setattr(target, name, original)


def patched(patches) -> contextlib.ExitStack:
    """Replace each ``target.name`` with ``wrapper(original)`` until the
    returned stack closes; ``patches`` holds (target, name, wrapper)."""
    stack = contextlib.ExitStack()
    for target, name, wrapper in patches:
        stack.enter_context(_patched(target, name, wrapper))
    return stack
