"""In-memory spans around matchbox_spark's public entry points, plus the
Spark event-log parser that bills each Spark job to the span that ran it.

Nothing here is imported by the library: the traced run patches the entry
points from the benchmark's side (:meth:`Tracer.wrap`) and removes the
patches afterwards (:meth:`Tracer.uninstall`), so the untraced run executes
the library untouched.

Attribution rules:

- A span's *self* time is its duration minus the part of its interval that
  its child spans cover.
- Each Spark job belongs to one span: the one whose job group
  (``pb-<span id>``, set with ``SparkContext.setJobGroup`` on entry) the job
  carries, else the innermost span open when the job was submitted (jobs a
  streaming query launches carry the query's own group).
- ``jobs_s`` is the wall time inside the span's self interval covered by at
  least one of its jobs; ``driver_s`` is self time minus ``jobs_s``: Python,
  py4j and Catalyst work on the driver.
- Jobs tagged :data:`UNTRACKED` (the benchmark's own counters and checks)
  are billed to nobody.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

UNTRACKED = "pb-untracked"
GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    error: bool = False


@dataclass
class Job:
    id: int
    group: str | None
    start: float
    end: float
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    task_wait_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_records: int = 0
    shuffle_bytes: int = 0


class Tracer:
    """Records spans in memory; one instance per benchmark run.

    Spans nest through one stack shared by all threads: the client thread
    blocks in ``awaitTermination`` while a streaming query's batch function
    runs on a callback thread, so only one thread opens spans at a time.
    """

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def open(self, name: str) -> Span:
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            span = Span(len(self.spans), name, parent, self.run_id, time.time())
            self.spans.append(span)
            self._stack.append(span)
        return span

    def close(self, span: Span, error: bool = False) -> None:
        span.end = time.time()
        span.error = error
        with self._lock:
            self._stack.remove(span)

    def span(self, name: str):
        return _SpanContext(self, name)

    def untracked(self):
        """Context whose Spark jobs are billed to no span."""
        return _JobGroup(self.sc, UNTRACKED)

    # -- patching public entry points ----------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version until
        :meth:`uninstall`."""
        original = owner.__dict__[attr]
        is_static = isinstance(original, staticmethod)
        fn = original.__func__ if is_static else original
        tracer = self

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, staticmethod(spanned) if is_static else spanned)
        self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- results ---------------------------------------------------------------

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _JobGroup:
    """Set the calling thread's Spark job group; restore it on exit."""

    def __init__(self, sc, group: str):
        self.sc = sc
        self.group = group
        self.prev = None

    def __enter__(self):
        if self.sc is not None:
            self.prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", self.prev)
        return False


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        self.span = self.tracer.open(self.name)
        self.group = _JobGroup(self.tracer.sc, f"{GROUP_PREFIX}{self.span.id}")
        self.group.__enter__()
        return self.span

    def __exit__(self, exc_type, exc, tb):
        self.group.__exit__()
        self.tracer.close(self.span, error=exc_type is not None)
        return False


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_intervals(span: Span, children: list[Span]) -> list[tuple[float, float]]:
    """The parts of ``span`` not covered by any child span."""
    out, cur = [], span.start
    for c in sorted(children, key=lambda c: c.start):
        if c.start > cur:
            out.append((cur, min(c.start, span.end)))
        cur = max(cur, c.end)
    if cur < span.end:
        out.append((cur, span.end))
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time (duration minus the union of child intervals)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start)
        - covered([(c.start, c.end) for c in children.get(s.id, [])], s.start, s.end)
        for s in spans
    }


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their task metrics from one Spark JSON event log.

    Times are epoch seconds. Scheduler delay per task follows the Spark UI:
    duration minus run, deserialize, result-serialize and fetch time.
    """
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1000.0,
                    end=ev["Submission Time"] / 1000.0,
                )
                jobs[job.id] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                job.stages.add(ev["Stage ID"])
                job.tasks += 1
                if info.get("Failed"):
                    job.failed_tasks += 1
                run_ms = m.get("Executor Run Time", 0)
                dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                fetch_ms = 0
                if info.get("Getting Result Time", 0) > 0:
                    fetch_ms = info["Finish Time"] - info["Getting Result Time"]
                job.task_s += run_ms / 1000.0
                job.task_wait_s += max(
                    0,
                    dur_ms
                    - run_ms
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0)
                    - fetch_ms,
                ) / 1000.0
                job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                w = m.get("Shuffle Write Metrics") or {}
                job.shuffle_records += w.get("Shuffle Records Written", 0)
                job.shuffle_bytes += w.get("Shuffle Bytes Written", 0)
    return list(jobs.values())


def find_event_log(directory: str) -> str:
    """The single application log Spark wrote under ``directory``."""
    logs = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    return os.path.join(directory, logs[0])


def assign_jobs(jobs: list[Job], spans: list[Span]) -> dict[int | None, list[Job]]:
    """Span id → its jobs (see the module docstring); ``None`` collects jobs
    outside every span. Untracked jobs are dropped."""
    by_id = {s.id: s for s in spans}
    out: dict[int | None, list[Job]] = {}
    for job in jobs:
        if job.group == UNTRACKED:
            continue
        owner = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            try:
                owner = int(job.group[len(GROUP_PREFIX):])
            except ValueError:
                owner = None
            if owner not in by_id:
                owner = None
        if owner is None:
            # innermost span open at submission: the latest-started one
            live = [s for s in spans if s.start <= job.start < (s.end or 1e30)]
            if live:
                owner = max(live, key=lambda s: (s.start, s.id)).id
        out.setdefault(owner, []).append(job)
    return out


JOB_COUNTERS = (
    "tasks",
    "failed_tasks",
    "task_s",
    "task_wait_s",
    "gc_s",
    "spill_bytes",
    "shuffle_records",
    "shuffle_bytes",
)


def span_metrics(
    spans: list[Span], jobs: list[Job], window: tuple[float, float] | None = None
) -> dict[str, dict[str, float]]:
    """Per span name, summed over its spans: ``s`` (self), ``jobs_s``,
    ``driver_s``, ``errors``, ``calls``, ``jobs``, ``stages`` and the
    :data:`JOB_COUNTERS`. The key ``"spark"`` holds the totals over every
    billed job; ``window`` limits those to jobs submitted inside it."""
    done = [s for s in spans if s.end is not None]
    selfs = self_times(done)
    children: dict[int, list[Span]] = {}
    for s in done:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    owned = assign_jobs(jobs, done)
    out: dict[str, dict[str, float]] = {}
    for s in done:
        m = out.setdefault(s.name, {})
        mine = owned.get(s.id, [])
        pieces = self_intervals(s, children.get(s.id, []))
        jobs_s = sum(covered([(j.start, j.end) for j in mine], a, b) for a, b in pieces)
        add = {
            "s": selfs[s.id],
            "jobs_s": jobs_s,
            "driver_s": max(0.0, selfs[s.id] - jobs_s),
            "errors": float(s.error),
            "calls": 1.0,
            "jobs": float(len(mine)),
            "stages": float(sum(len(j.stages) for j in mine)),
        }
        for c in JOB_COUNTERS:
            add[c] = float(sum(getattr(j, c) for j in mine))
        for k, v in add.items():
            m[k] = m.get(k, 0.0) + v
    billed = [j for j in jobs if j.group != UNTRACKED]
    if window is not None:
        billed = [j for j in billed if window[0] <= j.start <= window[1]]
    total = {
        "jobs": float(len(billed)),
        "stages": float(sum(len(j.stages) for j in billed)),
    }
    for c in JOB_COUNTERS:
        total[c] = float(sum(getattr(j, c) for j in billed))
    out["spark"] = total
    return out
