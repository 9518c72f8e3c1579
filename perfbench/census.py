"""Per-call Spark census and span tracing, read from outside the program.

The census of a call is every Spark job the call launched, read from the
driver's live ``AppStatusStore`` (``sc._jsc.sc().statusStore()``), which is
populated even with ``spark.ui.enabled=false``.  Job ids are allocated in
order and the benchmark drives one call at a time from one client thread,
so the jobs of a call are exactly the ids allocated between its start and
its end -- including jobs the library submits from helper threads, which
carry none of the caller's tags.

Spans (name, start, end, parent, op id) sit in memory and are written out
once when the run ends.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

#: census counters that are pure functions of the inputs and the plan;
#: they must repeat exactly across two runs on one seed
EXACT_COUNTERS = ("jobs", "tasks", "output_records")
#: byte counters repeat only up to row order inside written files: Spark
#: orders equal-size input files of a scan by directory listing order,
#: which follows their random names, and a reduce task takes its shuffle
#: blocks in arrival order, so the same rows can be encoded a few bytes
#: differently (0.11 % once, in an index compaction's output)
BYTE_COUNTERS = ("shuffle_write_bytes", "output_bytes")


@dataclass
class Census:
    """Spark work done inside one call."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_ms: int = 0
    exec_cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    result_bytes: int = 0
    peak_exec_mem: int = 0
    job_busy_ms: float = 0.0  # wall time covered by at least one running job

    def add(self, other: "Census") -> None:
        for k, v in vars(other).items():
            if k == "peak_exec_mem":
                self.peak_exec_mem = max(self.peak_exec_mem, v)
            else:
                setattr(self, k, getattr(self, k) + v)


class StatusStore:
    """Reads jobs and stages of the live application status store."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()

    def mark(self) -> tuple[int, int]:
        """Ids the next submitted job and the next created stage will get."""
        return _as_int(self._dag.nextJobId()), _as_int(self._dag.nextStageId())

    def census(self, start: tuple[int, int], t0: float, t1: float) -> Census:
        """Census of the jobs submitted since ``start`` (a :meth:`mark`),
        run within ``[t0, t1]`` (epoch seconds).

        A stage listed by several jobs, or created before ``start`` and
        reused (skipped) since, is counted once or not at all.  Waits for
        the listener bus first, so the store has seen every task and stage
        of those jobs."""
        self._bus.waitUntilEmpty(60_000)
        first_job, first_stage = start
        end_job = self.mark()[0]
        c = Census()
        seen: set[int] = set()
        spans: list[tuple[float, float]] = []
        for jid in range(first_job, end_job):
            job = self._store.job(jid)
            c.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid < first_stage or sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                n_done = st.numCompleteTasks()
                if n_done == 0:  # skipped: its output was reused
                    continue
                c.stages += 1
                c.tasks += n_done
                c.exec_run_ms += st.executorRunTime()
                c.exec_cpu_ms += st.executorCpuTime() / 1e6
                c.gc_ms += st.jvmGcTime()
                c.shuffle_read_bytes += st.shuffleReadBytes()
                c.shuffle_write_bytes += st.shuffleWriteBytes()
                c.output_bytes += st.outputBytes()
                c.output_records += st.outputRecords()
                c.result_bytes += st.resultSize()
                c.peak_exec_mem = max(c.peak_exec_mem, st.peakExecutionMemory())
        c.job_busy_ms = _covered_ms(spans, t0, t1)
        return c


def _as_int(v) -> int:
    """A JVM counter read through py4j: a plain int or an AtomicInteger."""
    return int(v) if isinstance(v, int) else int(v.get())


def _covered_ms(spans: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Milliseconds of ``[t0, t1]`` covered by the union of ``spans``."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in spans if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total * 1000.0


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None
    census: Census | None = None
    census_ms: float = 0.0  # time spent reading the censuses of nested spans
    read_ms: float = 0.0  # time spent reading this span's own census

    @property
    def ms(self) -> float:
        """Wall time of the call, without the tracer's own census reads."""
        return (self.end - self.start) * 1000.0 - self.census_ms


@dataclass
class Tracer:
    """In-memory span recorder.  With ``store`` set, every span carries the
    census of the jobs launched inside it; without it (untraced runs) the
    tracer records nothing and costs two attribute reads per call."""

    store: StatusStore | None = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    op: int = -1

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn(*args, **kwargs)`` inside a span named ``name``."""
        if self.store is None:
            return fn(*args, **kwargs)
        span = Span(name, self.op, 0.0, parent=self._stack[-1] if self._stack else None)
        self.spans.append(span)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        start = self.store.mark()
        span.start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            self._stack.pop()
            t = time.perf_counter()
            span.census = self.store.census(start, span.start, span.end)
            cost = span.read_ms = (time.perf_counter() - t) * 1000.0
            for i in self._stack:  # the read happened inside every open span
                self.spans[i].census_ms += cost

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the part
        of it covered by its child spans."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_ms[s.parent] += s.ms
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.ms - child_ms[i]
        return out

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            row = {"id": i, "name": s.name, "op": s.op, "start": s.start,
                   "end": s.end, "parent": s.parent, "census_ms": s.census_ms,
                   "read_ms": s.read_ms}
            if s.census is not None:
                row["census"] = vars(s.census)
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f)
