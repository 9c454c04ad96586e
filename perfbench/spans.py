"""Spans, Spark event-log parsing and the per-span job split.

The benchmark records a span around every call it makes into the
engine. A traced run also writes Spark's event log; after the run each
job is charged to the innermost span whose [start, end] holds the
job's submission time. Job groups are not used for the assignment:
jobs submitted from pool or stream threads lose the caller's group,
and ``ungrouped`` counts exactly those.

Everything here is pure Python over plain data, so it is tested
without Spark.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

#: local properties a top-level span sets on the driver thread
GROUP_PROP = "spark.jobGroup.id"
DESC_PROP = "spark.job.description"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float = 0.0
    group: str = ""
    parent: Span | None = field(default=None, repr=False)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def top(self) -> Span:
        s = self
        while s.parent is not None:
            s = s.parent
        return s


class Tracer:
    """Records nested spans in memory. Given a SparkContext, it also
    tags the jobs the calling thread submits inside a top-level span
    with that span's job group."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        group = parent.group if parent else f"perfbench-{len(self.spans)}"
        s = Span(name, time.time(), group=group, parent=parent)
        self.spans.append(s)
        self._open.append(s)
        tag = self.sc is not None and parent is None
        if tag:
            self.sc.setLocalProperty(GROUP_PROP, group)
            self.sc.setLocalProperty(DESC_PROP, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if tag:
                self.sc.setLocalProperty(GROUP_PROP, None)
                self.sc.setLocalProperty(DESC_PROP, None)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end] intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    group: str | None
    sql_execution: bool
    stages: int = 0  # stages that ran (skipped stages excluded)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


#: SQL plan events make up most of a log's bytes; lines are filtered on
#: this prefix before they are parsed
_WANTED = tuple(
    f'{{"Event":"SparkListener{e}"' for e in ("JobStart", "JobEnd", "StageCompleted", "TaskEnd")
)


def parse_event_log(lines: Iterable[str]) -> list[Job]:
    """Jobs of one uncompressed, non-rolling Spark event log, with
    their stage and task totals. A job that never ended is dropped."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for line in lines:
        if not line.startswith(_WANTED):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                submit=ev["Submission Time"] / 1000.0,
                end=float("nan"),
                group=props.get(GROUP_PROP),
                sql_execution=props.get("spark.sql.execution.id") is not None,
            )
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job is not None:
                job.stages += 1
        else:  # SparkListenerTaskEnd
            job = stage_job.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.run_s += m.get("Executor Run Time", 0) / 1e3
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1e3
            job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics", {})
            job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return [j for j in jobs.values() if j.end == j.end]  # NaN: never ended


def assign_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """id(span) -> jobs whose submission time falls inside the span and
    inside none of its child spans. Jobs outside every span are left
    out."""
    out: dict[int, list[Job]] = {}
    by_start = sorted(spans, key=lambda s: s.start)
    for job in jobs:
        best = None
        for s in by_start:
            if s.start > job.submit:
                break
            if s.end >= job.submit and (best is None or s.start >= best.start):
                best = s
        if best is not None:
            out.setdefault(id(best), []).append(job)
    return out


@dataclass
class SpanStats:
    """Spark work charged to one top-level span and its descendants."""

    span: Span
    jobs: list[Job]

    @property
    def job_busy_s(self) -> float:
        """Part of the span's wall time during which at least one of
        its jobs ran; job intervals are clipped to the span."""
        lo, hi = self.span.start, self.span.end
        return union_length((max(j.submit, lo), min(j.end, hi)) for j in self.jobs if j.end > lo)

    @property
    def driver_gap_s(self) -> float:
        return self.span.wall - self.job_busy_s

    @property
    def ungrouped(self) -> int:
        return sum(1 for j in self.jobs if j.group != self.span.group)


def span_stats(top: Span, spans: list[Span], assigned: dict[int, list[Job]]) -> SpanStats:
    """Jobs of the top-level span ``top`` and of every span nested in it."""
    return SpanStats(top, [j for s in spans if s.top() is top for j in assigned.get(id(s), [])])
