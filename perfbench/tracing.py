"""Spans recorded from outside the package, and their join with Spark's
event log.

A span is opened around a call into one layer of the trace pipeline:
the functions ``streaming.runner`` calls, and the sink's ``upsert``.
Each span records its name, start, end, parent span, micro-batch and
the Spark job ids launched while it was open — the difference of
``statusTracker().getJobIdsForGroup(<query runId>)`` across the span
(a streaming query runs its jobs under its run id as job group).

The event log then supplies per-job executor metrics (TaskEnd) and
stage ids (JobStart); ``job_metrics`` folds them per job, so a span's
cost is the sum over its jobs.  Spans stay in memory until the run
writes them out.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    batch: int | None = None
    jobs: list[int] = field(default_factory=list)
    #: seconds the tracer itself spent around the call (job-id lookups
    #: and bookkeeping), which the traced run adds to the batch
    own: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans from any thread.  ``sc`` is the SparkContext whose
    status tracker lists the jobs of a job group; the current job group
    and micro-batch come from the calling thread's context."""

    def __init__(self, sc):
        self._sc = sc
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[Span] = []

    def _jobs(self, group: str | None) -> set[int]:
        if group is None:
            return set()
        return set(self._sc.statusTracker().getJobIdsForGroup(group))

    def set_batch(self, batch: int | None) -> None:
        self._local.batch = batch

    def span(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span named ``name``."""
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        group = self._sc.getLocalProperty("spark.jobGroup.id")
        before = self._jobs(group)
        sp = Span(
            name,
            time.perf_counter(),
            parent=stack[-1] if stack else None,
            group=group,
            batch=getattr(self._local, "batch", None),
        )
        with self._lock:
            stack.append(len(self.spans))
            self.spans.append(sp)
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            sp.jobs = sorted(self._jobs(group) - before)
            sp.own = (sp.start - t_in) + (time.perf_counter() - sp.end)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_time(spans: list[Span], idx: int) -> float:
    """Span ``idx``'s duration minus the part its direct children cover
    (children are clipped to the parent and merged where they overlap)."""
    sp = spans[idx]
    ivs = sorted(
        (max(c.start, sp.start), min(c.end, sp.end))
        for c in spans
        if c.parent == idx
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return sp.seconds - covered


def children(spans: list[Span], idx: int) -> list[Span]:
    return [s for s in spans if s.parent == idx]


@dataclass
class JobCost:
    #: stage ids that ran at least one task for the job
    stages: set = field(default_factory=set)
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def job_metrics(lines) -> dict[int, JobCost]:
    """Fold an uncompressed Spark event log into per-job costs.

    JobStart lists a job's stage ids; a stage id listed by several jobs
    ran in the first of them (later jobs skip it), so its TaskEnd
    metrics go to the lowest job id that lists it.  Listed stages that
    never ran (skipped, or cancelled by adaptive re-planning) are not
    counted."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, JobCost] = {}
    tasks: list[dict] = []
    for line in lines:
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            jid = ev["Job ID"]
            jobs.setdefault(jid, JobCost())
            for sid in ev["Stage IDs"]:
                if sid not in stage_job or jid < stage_job[sid]:
                    stage_job[sid] = jid
        elif '"SparkListenerTaskEnd"' in line:
            tasks.append(json.loads(line))
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if jid is None or not m:
            continue
        c = jobs[jid]
        c.stages.add(ev["Stage ID"])
        c.tasks += 1
        c.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        c.gc_s += m.get("JVM GC Time", 0) / 1e3
        c.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
    return jobs


def sum_jobs(costs: dict[int, JobCost], job_ids) -> JobCost:
    """Total cost of ``job_ids``; jobs absent from the log count zero."""
    out = JobCost()
    for j in job_ids:
        c = costs.get(j)
        if c is None:
            continue
        out.stages |= c.stages
        out.tasks += c.tasks
        out.cpu_s += c.cpu_s
        out.gc_s += c.gc_s
        out.shuffle_write_bytes += c.shuffle_write_bytes
        out.spill_bytes += c.spill_bytes
    return out
