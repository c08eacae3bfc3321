"""Spans recorded by the benchmark, and their roll-up from Spark's event log.

A :class:`Tracer` keeps spans in memory. When it is given a SparkContext it
also tags every Spark job started inside a span with that span's tag
(``SparkContext.addJobTag``), so the event log tells which span caused
which job. :func:`read_event_log` parses an uncompressed, non-rolling event
log; :func:`rollup` turns spans plus the parsed log into per-layer metrics.

Definitions (times in seconds, sizes in MB):

- ``wall_s``: summed span durations; ``self_s``: wall minus the part of
  each span its child spans cover.
- ``driver_s``: wall minus the union of the span's jobs' run intervals.
- ``task_s``: summed executor run time; ``cpu_s``, ``gc_s`` likewise.
- ``sched_wait_s``: task duration minus run, deserialize and
  result-serialization time.
- ``core_busy``: ``task_s / (wall_s * cores)``.
- ``stage_skip_frac``: skipped stages / all stages of the span's jobs.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench-span-"
MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    tag: str = ""


class Tracer:
    """In-memory span recorder. Once attached to a SparkContext, each span
    also tags the jobs its thread starts; a thread carries only its
    innermost span's tag, so nested spans never share a job."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Start tagging jobs; the innermost open span's tag applies now."""
        self._sc = sc
        if self._stack:
            sc.addJobTag(self.spans[self._stack[-1]].tag)

    def open(self, name: str, start: float | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        tag = f"{TAG_PREFIX}{idx}"  # job tags may not contain ','
        self.spans.append(Span(name, time.time() if start is None else start, None, parent, tag))
        self._stack.append(idx)
        if self._sc is not None:
            if parent is not None:
                self._sc.removeJobTag(self.spans[parent].tag)
            self._sc.addJobTag(tag)
        return idx

    def close(self, idx: int) -> None:
        if not self._stack or self._stack[-1] != idx:
            raise RuntimeError(f"span {self.spans[idx].name!r} closed out of order")
        self._stack.pop()
        self.spans[idx].end = time.time()
        if self._sc is not None:
            self._sc.removeJobTag(self.spans[idx].tag)
            parent = self.spans[idx].parent
            if parent is not None:
                self._sc.addJobTag(self.spans[parent].tag)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        idx = self.open(name)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

_TASK_FIELDS = (
    "tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "wait_ms",
    "shuffle_bytes", "spill_bytes", "input_bytes",
)


@dataclass
class Job:
    submit: float
    end: float | None = None
    tags: frozenset = frozenset()
    stage_ids: tuple = ()


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    ran_stages: set = field(default_factory=set)
    # a stage runs in the first job that lists it; later jobs that list it
    # reuse its shuffle output and skip it
    stage_owner: dict[int, int] = field(default_factory=dict)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(lambda: dict.fromkeys(_TASK_FIELDS, 0)))


def read_event_log(path: str) -> EventLog:
    """Parse the events the roll-up needs from a JSON-lines event log."""
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                tags = ev.get("Properties", {}).get("spark.job.tags", "")
                log.jobs[ev["Job ID"]] = Job(
                    submit=ev["Submission Time"] / 1000.0,
                    tags=frozenset(t for t in tags.split(",") if t),
                    stage_ids=tuple(ev.get("Stage IDs", ())),
                )
                for sid in ev.get("Stage IDs", ()):
                    log.stage_owner.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                log.ran_stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                _add_task(log.stage_tasks[ev["Stage ID"]], ev)
    return log


def _add_task(agg: dict, ev: dict) -> None:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    agg["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        agg["failed_tasks"] += 1
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    run = m.get("Executor Run Time", 0)
    agg["run_ms"] += run
    agg["cpu_ns"] += m.get("Executor CPU Time", 0)
    agg["gc_ms"] += m.get("JVM GC Time", 0)
    agg["wait_ms"] += max(
        0, duration - run - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
    )
    agg["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    agg["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)


# --------------------------------------------------------------------------
# roll-up
# --------------------------------------------------------------------------


def _depth(spans: list[Span], idx: int) -> int:
    d = 0
    while spans[idx].parent is not None:
        idx, d = spans[idx].parent, d + 1
    return d


def assign_jobs(spans: list[Span], log: EventLog) -> dict[int, list[int]]:
    """span index -> job ids. A job goes to the deepest span whose tag it
    carries; a job with no span tag goes to the deepest span whose interval
    holds its submission time."""
    by_tag = {s.tag: i for i, s in enumerate(spans)}
    depth = [_depth(spans, i) for i in range(len(spans))]
    out: dict[int, list[int]] = defaultdict(list)
    for job_id, job in log.jobs.items():
        owners = [by_tag[t] for t in job.tags if t in by_tag]
        if not owners:
            owners = [
                i for i, s in enumerate(spans)
                if s.start <= job.submit <= (s.end if s.end is not None else float("inf"))
            ]
        if owners:
            out[max(owners, key=lambda i: (depth[i], spans[i].start))].append(job_id)
    return out


def span_stats(spans: list[Span], idx: int, job_ids: list[int], log: EventLog) -> dict:
    """Raw totals of one span instance (seconds, bytes, counts)."""
    s = spans[idx]
    end = s.end if s.end is not None else s.start
    children = [(c.start, c.end or c.start) for c in spans if c.parent == idx]
    jobs = [(j, log.jobs[j]) for j in job_ids]
    job_iv = [(j.submit, j.end if j.end is not None else end) for _, j in jobs]
    stats = {
        "wall": end - s.start,
        "self": end - s.start - union_length(clip(children, s.start, end)),
        "driver": end - s.start - union_length(clip(job_iv, s.start, end)),
        "jobs": len(jobs),
        "stages": 0, "skipped_stages": 0,
        **dict.fromkeys(_TASK_FIELDS, 0),
    }
    for job_id, job in jobs:
        for sid in job.stage_ids:
            stats["stages"] += 1
            if sid not in log.ran_stages or log.stage_owner.get(sid) != job_id:
                stats["skipped_stages"] += 1
                continue
            for k, v in log.stage_tasks.get(sid, {}).items():
                stats[k] += v
    return stats


def layer_metrics(stats: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics from summed raw totals."""
    wall = stats["wall"]
    task_s = stats["run_ms"] / 1000.0
    return {
        "wall_s": wall,
        "self_s": stats["self"],
        "driver_s": stats["driver"],
        "jobs": stats["jobs"],
        "stages": stats["stages"],
        "tasks": stats["tasks"],
        "task_s": task_s,
        "cpu_s": stats["cpu_ns"] / 1e9,
        "gc_s": stats["gc_ms"] / 1000.0,
        "sched_wait_s": stats["wait_ms"] / 1000.0,
        "shuffle_mb": stats["shuffle_bytes"] / MB,
        "spill_mb": stats["spill_bytes"] / MB,
        "input_mb": stats["input_bytes"] / MB,
        "core_busy": task_s / (wall * cores) if wall > 0 else 0.0,
        "stage_skip_frac": stats["skipped_stages"] / stats["stages"] if stats["stages"] else 0.0,
        "failed_tasks": stats["failed_tasks"],
    }


def rollup(spans: list[Span], log: EventLog, cores: int, group=lambda name: name) -> dict[str, dict]:
    """Per-layer metrics keyed by ``group(span name)``. Totals of every
    instance in a group are summed before ratios are taken."""
    owned = assign_jobs(spans, log)
    totals: dict[str, dict] = {}
    for i, s in enumerate(spans):
        key = group(s.name)
        st = span_stats(spans, i, owned.get(i, []), log)
        if key in totals:
            for k, v in st.items():
                totals[key][k] += v
        else:
            totals[key] = st
    return {k: layer_metrics(v, cores) for k, v in totals.items()}
