"""Spans recorded around the benchmark's calls into the engine, and the
attribution of Spark jobs from an event log to those spans.

The benchmark issues one engine call at a time from one driver thread, so a
job belongs to the innermost span that was open when the job was submitted.
Attribution therefore needs no job labels from inside the engine.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``dump`` writes them once, at exit."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, time.time(), None, parent, self.run_id)
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id and s.end is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` that the union of ``intervals``
    covers."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.seconds - covered([(c.start, c.end) for c in children],
                                  span.start, span.end)


# ------------------------------------------------------------- event log --

@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: list[int]


def read_event_log(path: str) -> tuple[dict[int, Job], list[dict]]:
    """Jobs and finished tasks from an uncompressed Spark event log.

    Times are seconds since the epoch, like ``time.time()`` in the driver.
    Each task carries its stage id and the metrics the per-layer report
    sums.
    """
    starts, ends, tasks = {}, {}, []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                starts[e["Job ID"]] = (e["Submission Time"] / 1000.0, e["Stage IDs"])
            elif kind == "SparkListenerJobEnd":
                ends[e["Job ID"]] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_records": sw.get("Shuffle Records Written", 0),
                    "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    "output_bytes": out.get("Bytes Written", 0),
                })
    jobs = {
        j: Job(j, sub, ends.get(j, sub), stages)
        for j, (sub, stages) in starts.items()
    }
    return jobs, tasks


def attribute_jobs(spans: list[Span], jobs: dict[int, Job]) -> dict[int, list[int]]:
    """Map each span id to the jobs submitted while it was the innermost
    open span.  Jobs submitted outside every span are dropped."""
    out: dict[int, list[int]] = {s.id: [] for s in spans}
    for job in jobs.values():
        best = None
        for s in spans:
            if s.end is not None and s.start <= job.submit <= s.end:
                # a child opens after its parent: latest start, then
                # latest id, is the innermost open span
                if best is None or (s.start, s.id) > (best.start, best.id):
                    best = s
        if best is not None:
            out[best.id].append(job.id)
    return out


SPARK_FIELDS = ("jobs", "tasks", "task_s", "busy_ratio", "driver_gap_s",
                "shuffle_write_bytes", "shuffle_records", "spill_bytes",
                "output_bytes", "gc_s")


def spark_metrics(tracer: Tracer, jobs: dict[int, Job], tasks: list[dict],
                  cores: int) -> dict[int, dict]:
    """Spark metrics for every closed span, counting the jobs of the span
    and of all its descendants."""
    spans = [s for s in tracer.spans if s.end is not None]
    own = attribute_jobs(spans, jobs)
    stage_job = {}
    for job in sorted(jobs.values(), key=lambda j: j.id):
        for st in job.stages:
            stage_job.setdefault(st, job.id)
    tasks_by_job: dict[int, list[dict]] = {}
    for t in tasks:
        j = stage_job.get(t["stage"])
        if j is not None:
            tasks_by_job.setdefault(j, []).append(t)
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def subtree_jobs(sid: int) -> list[int]:
        out = list(own[sid])
        for k in kids.get(sid, []):
            out += subtree_jobs(k)
        return out

    all_intervals = [(j.submit, j.end) for j in jobs.values()]
    res = {}
    for s in spans:
        js = subtree_jobs(s.id)
        ts = [t for j in js for t in tasks_by_job.get(j, [])]
        task_s = sum(t["run_s"] for t in ts)
        res[s.id] = {
            "jobs": len(js),
            "tasks": len(ts),
            "task_s": task_s,
            "busy_ratio": task_s / (max(s.seconds, 1e-9) * cores),
            "driver_gap_s": s.seconds - covered(all_intervals, s.start, s.end),
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in ts),
            "shuffle_records": sum(t["shuffle_records"] for t in ts),
            "spill_bytes": sum(t["spill_bytes"] for t in ts),
            "output_bytes": sum(t["output_bytes"] for t in ts),
            "gc_s": sum(t["gc_s"] for t in ts),
        }
    return res
