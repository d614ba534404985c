"""Outside-in tracer: spans recorded by the benchmark around calls into
the package's public functions, Spark job groups per call, and the
job/stage records of Spark's own status store.

Nothing here changes the package. Spans are kept in memory (name,
start, end, parent, request id, attributes) and written out as JSON
lines when the run ends. A span opened with `group=True` tags every
Spark job its thread submits with the span's request id
(`SparkContext.setJobGroup`, thread-local under PySpark's pinned-thread
mode); work that runs on pool threads the package starts itself (merge
ops) is attributed by time window instead.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

from stats import clipped, union_length


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    rid: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. Disabled tracers cost one attribute test per
    span and set no job groups."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._patches: list[tuple] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False, rid: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        if rid is None:
            rid = parent.rid if parent is not None else f"r{sid}"
        sp = Span(sid, name, time.time(), parent=parent.sid if parent else None,
                  rid=rid, attrs=dict(attrs))
        if group and self.sc is not None:
            self.sc.setJobGroup(rid, name)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if group and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, group: bool = False, attrs_fn=None):
        """Replace `owner.attr` by a spanning wrapper (undone by
        `unwrap_all`). `attrs_fn(*args, **kw)` may add attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = attrs_fn(*args, **kwargs) if attrs_fn else {}
            with tracer.span(name, group=group, **extra):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def self_time(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.children(sp)]
        return sp.wall - union_length(clipped(kids, sp.start, sp.end))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "rid": s.rid,
                    "self_s": round(self.self_time(s), 6), **s.attrs,
                }) + "\n")


# ------------------------------------------------------------ status store


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stages: int
    tasks: int
    run_ms: float = 0.0  # executor run time summed over tasks
    cpu_ms: float = 0.0
    wait_ms: float = 0.0  # first task launch - stage submission, summed
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(sc) -> list[Job]:
    """Completed jobs with their stage totals, from the live
    AppStatusStore (works with the UI disabled)."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    seq = store.jobsList(None)
    out = []
    for i in range(seq.size()):
        j = seq.apply(i)
        start = _opt_ms(j.submissionTime())
        end = _opt_ms(j.completionTime())
        if start is None or end is None:
            continue
        g = j.jobGroup()
        job = Job(
            job_id=j.jobId(),
            group=g.get() if g.isDefined() else None,
            start=start,
            end=end,
            stages=j.numCompletedStages(),
            tasks=j.numCompletedTasks(),
        )
        sids = j.stageIds()
        for k in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(k))
            except Exception:  # noqa: BLE001 — skipped stage: never ran
                continue
            if str(st.status()) != "COMPLETE":
                continue
            job.run_ms += st.executorRunTime()
            job.cpu_ms += st.executorCpuTime() / 1e6
            job.input_bytes += st.inputBytes()
            job.shuffle_read_bytes += st.shuffleReadBytes()
            job.shuffle_write_bytes += st.shuffleWriteBytes()
            sub = _opt_ms(st.submissionTime())
            first = _opt_ms(st.firstTaskLaunchedTime())
            if sub is not None and first is not None:
                job.wait_ms += max(first - sub, 0.0) * 1000.0
        out.append(job)
    return out


@dataclass
class JobTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    wait_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    busy_s: float = 0.0  # union of job intervals inside the span

    @staticmethod
    def of(jobs: list[Job], span: Span | None = None) -> "JobTotals":
        t = JobTotals()
        for j in jobs:
            t.jobs += 1
            t.stages += j.stages
            t.tasks += j.tasks
            t.run_ms += j.run_ms
            t.cpu_ms += j.cpu_ms
            t.wait_ms += j.wait_ms
            t.input_bytes += j.input_bytes
            t.shuffle_read_bytes += j.shuffle_read_bytes
            t.shuffle_write_bytes += j.shuffle_write_bytes
        ivs = [(j.start, j.end) for j in jobs]
        if span is not None:
            ivs = clipped(ivs, span.start, span.end)
        t.busy_s = union_length(ivs)
        return t


def jobs_of_group(jobs: list[Job], rid: str) -> list[Job]:
    return [j for j in jobs if j.group == rid]


def jobs_in_window(jobs: list[Job], span: Span) -> list[Job]:
    """Jobs submitted inside the span, whatever their group (for phases
    where nothing else runs, e.g. merge ops on the package's own pool
    threads, which do not inherit the caller's job group)."""
    return [j for j in jobs if span.start <= j.start <= span.end]
