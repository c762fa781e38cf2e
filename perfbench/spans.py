"""Spans recorded from the benchmark's own code, and the Spark jobs
behind them.

A span times one call into the library. A span opened with
``jobs=True`` also sets a Spark job group of its own, so every job the
call launches can be attributed to it afterwards. Spans are kept in
memory; the status store (`sc._jsc.sc().statusStore()`, live even
with the UI disabled) is read once, when the run ends, so the traced
run pays no per-job cost while it measures.

Library functions can be wrapped (traced run only) so that each call
becomes a child span of whatever benchmark span is open; the wrappers
are removed again by `Tracer.unwrap_all`.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    group: str | None
    start: float
    end: float = 0.0
    rows: int = 0
    children: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class JobStats:
    start: float
    end: float
    stages: list


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class NullTracer:
    """Tracing off: spans cost one generator step and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        yield None

    def unwrap_all(self) -> None:
        pass


class Tracer:
    def __init__(self, spark, prefix: str = "perfbench-"):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list = []

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"{self.prefix}{sid}" if jobs else None
        rec = Span(sid, name, parent.sid if parent else None, group, 0.0)
        self.spans.append(rec)
        if parent:
            parent.children.append(sid)
        if group:
            self._set_group(group)
        self._stack.append(rec)
        rec.start = time.time()
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()
            if group:
                outer = next((s.group for s in reversed(self._stack) if s.group), None)
                self._set_group(outer)

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)

    # -- wrapping library functions ---------------------------------------

    def wrap_function(self, module, name: str, span_name: str, jobs: bool = False):
        """Replace `module.name` by a span-recording wrapper, also in every
        library module that imported it by name."""
        orig = getattr(module, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(span_name, jobs=jobs):
                return orig(*args, **kwargs)

        prefix = module.__name__.split(".")[0]
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(prefix):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, orig))

    def wrap_context(self, cls, name: str, span_name: str):
        """Wrap a context-manager method so the span covers the body it
        guards (for a lock: the hold time, not the wait)."""
        orig = getattr(cls, name)

        @contextlib.contextmanager
        def wrapper(obj, *args, **kwargs):
            with orig(obj, *args, **kwargs):
                with self.span(span_name, jobs=False):
                    yield

        setattr(cls, name, wrapper)
        self._patched.append((cls, name, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reading the status store -----------------------------------------

    def jobs_by_group(self) -> dict[str, list[JobStats]]:
        """Every finished job of a span's group, with its stages' metrics."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        stage_cache: dict[int, StageStats] = {}
        out: dict[str, list[JobStats]] = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if group.isEmpty() or not group.get().startswith("perfbench-"):
                continue
            if job.submissionTime().isEmpty() or job.completionTime().isEmpty():
                continue
            stage_ids = job.stageIds()
            stages = []
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid not in stage_cache:
                    stage_cache[sid] = _stage_stats(store, sid)
                stages.append(stage_cache[sid])
            out.setdefault(group.get(), []).append(
                JobStats(
                    job.submissionTime().get().getTime() / 1000.0,
                    job.completionTime().get().getTime() / 1000.0,
                    stages,
                )
            )
        return out


def _stage_stats(store, stage_id: int) -> StageStats:
    st = StageStats()
    attempts = store.stageData(stage_id, False, None, False, None)
    for i in range(attempts.size()):
        a = attempts.apply(i)
        st.tasks += a.numCompleteTasks()
        st.run_s += a.executorRunTime() / 1000.0
        st.cpu_s += a.executorCpuTime() / 1e9
        st.gc_s += a.jvmGcTime() / 1000.0
        st.input_bytes += a.inputBytes()
        st.output_bytes += a.outputBytes()
        st.shuffle_write_bytes += a.shuffleWriteBytes()
    return st


class SpanStats:
    """Per-span aggregates over its own jobs and its descendants' jobs."""

    def __init__(self, tracer: Tracer):
        self.spans = tracer.spans
        self.jobs = tracer.jobs_by_group()

    def descendants(self, span: Span):
        yield span
        for c in span.children:
            yield from self.descendants(self.spans[c])

    def jobs_of(self, span: Span) -> list[JobStats]:
        out = []
        for s in self.descendants(span):
            if s.group:
                out.extend(self.jobs.get(s.group, []))
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def within(self, outer: Span, name: str) -> list[Span]:
        return [s for s in self.descendants(outer) if s.name == name and s is not outer]

    def summary(self, span: Span) -> dict:
        jobs = self.jobs_of(span)
        stages = {id(st): st for j in jobs for st in j.stages}.values()
        job_s = union_length([(j.start, j.end) for j in jobs], span.start, span.end)
        return {
            "wall_s": span.wall,
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st.tasks for st in stages),
            "job_s": job_s,
            "driver_s": span.wall - job_s,
            "exec_run_s": sum(st.run_s for st in stages),
            "exec_cpu_s": sum(st.cpu_s for st in stages),
            "gc_s": sum(st.gc_s for st in stages),
            "input_bytes": sum(st.input_bytes for st in stages),
            "output_bytes": sum(st.output_bytes for st in stages),
            "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in stages),
            "map_cpu_s": sum(st.cpu_s for st in stages if st.input_bytes),
            "write_cpu_s": sum(st.cpu_s for st in stages if st.output_bytes),
        }
