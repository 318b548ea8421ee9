"""Spans and Spark counters recorded from outside the program.

A traced run wraps each call the benchmark makes into a program layer in a
span and tags the Spark jobs that call starts with a job group named after
the span. After each pass, outside the pass's wall time, it reads the jobs
and stages of those groups from Spark's status store and the codegen, JIT
and GC counters from the JVM, all over py4j. Spans stay in memory and are
written once, at the end of the run.

With tracing off, :class:`NullTracer` takes the same calls and records
nothing, so both runs execute the same benchmark code around the program.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    role: str  # "pass", "op", "build" or "action"
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[dict] = field(default_factory=list)
    cache_mb: float = 0.0


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
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


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def jvm_counters(sc) -> dict[str, float]:
    """Cumulative JIT and GC time of the JVM, and Spark's whole-stage
    codegen compile count and time."""
    jvm = sc._jvm
    mf = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return {
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "gc_ms": float(sum(g.getCollectionTime()
                           for g in mf.getGarbageCollectorMXBeans())),
        "codegen_compiles": float(codegen.METRIC_COMPILATION_TIME().getCount()),
        "codegen_ms": compile_ns / 1e6,
    }


class NullTracer:
    """Tracing off: spans are plain context managers that record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, layer: str, role: str):
        yield None

    def begin_pass(self, pass_id: int) -> None:
        pass

    def end_pass(self, wall_s: float) -> None:
        pass


class Tracer:
    """Tracing on. ``overhead_s`` per pass counts the time spent inside the
    tracer's own bookkeeping while a pass is being timed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        self.spans: list[Span] = []
        self.passes: list[dict] = []
        self._stack: list[int] = []
        self._pass_id = -1
        self._first_span = 0
        self._overhead = 0.0
        self._counters = jvm_counters(self.sc)

    # -- spans -------------------------------------------------------------

    def begin_pass(self, pass_id: int) -> None:
        self._pass_id = pass_id
        self._overhead = 0.0
        self._first_span = len(self.spans)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, role: str):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = None
        if role in ("build", "action"):
            group = f"p{self._pass_id}.s{idx}"
            self.sc.setJobGroup(group, name)
        span = Span(name, layer, role, self._pass_id, parent, 0.0, group=group)
        self.spans.append(span)
        self._stack.append(idx)
        self._overhead += time.perf_counter() - t
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            t = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            if role == "build":
                span.cache_mb = self.storage_mb()
            self._overhead += time.perf_counter() - t

    def storage_mb(self) -> float:
        """Storage the block manager holds for persisted RDDs, in MB."""
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def end_pass(self, wall_s: float) -> None:
        """Read the pass's jobs, stages and JVM counter deltas (untimed)."""
        self._jsc.listenerBus().waitUntilEmpty(60_000)
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        for span in self.spans[self._first_span:]:
            if span.group is None:
                continue
            for job_id in tracker.getJobIdsForGroup(span.group):
                span.jobs.append(self._job(store, job_id))
        counters = jvm_counters(self.sc)
        delta = {k: counters[k] - self._counters[k] for k in counters}
        self._counters = counters
        self.passes.append(
            {"pass": self._pass_id, "wall_s": wall_s, "overhead_s": self._overhead,
             "ungrouped_jobs": len(tracker.getJobIdsForGroup(None)), **delta}
        )

    def _job(self, store, job_id: int) -> dict:
        job = store.job(job_id)
        out = {
            "id": job_id,
            "start": job.submissionTime().get().getTime() / 1e3,
            "end": job.completionTime().get().getTime() / 1e3,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "shuffle_write_mb": 0.0,
            "spill_mb": 0.0,
        }
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            attempts = store.stageData(stage_ids.apply(i), False, None, False,
                                       self._quantiles)
            for a in range(attempts.size()):
                stage = attempts.apply(a)
                out["stages"] += 1
                out["tasks"] += stage.numTasks()
                out["executor_run_s"] += stage.executorRunTime() / 1e3
                out["shuffle_write_mb"] += stage.shuffleWriteBytes() / 1e6
                out["spill_mb"] += stage.diskBytesSpilled() / 1e6
        return out
