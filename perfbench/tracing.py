"""Operation spans, Spark job-group tagging and event-log attribution.

The benchmark times each call into the engine from outside. In a traced
run every span also sets a Spark job group, so the event log written by
the session can be split by span afterwards: jobs, tasks, executor time
and shuffle bytes per operation, and the driver time that no job covers.
Nothing here reaches into the engine itself.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

# Counters reported per operation name (see README.md).
OP_COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "executor_run_s",
               "shuffle_bytes", "idle_task_frac")


@dataclass
class Span:
    seq: int
    name: str
    phase: str  # "setup", "warmup" or "timed"
    start_ms: float = 0.0
    end_ms: float = 0.0
    wall_s: float = 0.0
    rows: int = 0
    results: int = 0

    @property
    def group(self) -> str:
        return f"pb-{self.seq}-{self.name}"


class Recorder:
    """Times operations and, when ``tagged``, sets a Spark job group for the
    duration of each one. Between operations the group names the phase, so
    every job the benchmark causes carries some group."""

    def __init__(self, sc, tagged: bool):
        self.sc = sc
        self.tagged = tagged
        self.spans: list[Span] = []
        self.phase = "setup"
        self.set_phase("setup")

    def set_phase(self, phase: str) -> None:
        self.phase = phase
        if self.tagged:
            self.sc.setJobGroup(f"pb-phase-{phase}", phase)

    @contextmanager
    def op(self, name: str, rows: int = 0):
        span = Span(len(self.spans), name, self.phase, rows=rows)
        if self.tagged:
            self.sc.setJobGroup(span.group, name)
        span.start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.wall_s = time.perf_counter() - t0
            span.end_ms = time.time() * 1000.0
            self.spans.append(span)
            if self.tagged:
                self.sc.setJobGroup(f"pb-phase-{self.phase}", self.phase)

    def timed(self, name: str | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.phase == "timed" and (name is None or s.name == name)]


# ---------------------------------------------------------------- event log
@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: float
    end_ms: float | None = None
    stages: tuple = ()


@dataclass
class Task:
    stage_id: int
    run_ms: float
    input_records: int
    shuffle_records: int
    shuffle_bytes: int


def read_event_log(event_dir: str) -> list[dict]:
    """Every JSON event of the (uncompressed) logs under ``event_dir``; Spark 4
    writes one directory of rolling files per application."""
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def parse_events(events: list[dict]) -> tuple[dict[int, Job], list[Task]]:
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                float(ev["Submission Time"]), stages=tuple(ev.get("Stage IDs", ())),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = float(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            shuffle_read = m.get("Shuffle Read Metrics") or {}
            tasks.append(Task(
                ev["Stage ID"],
                float(m.get("Executor Run Time", 0)),
                int((m.get("Input Metrics") or {}).get("Records Read", 0)),
                int(shuffle_read.get("Total Records Read", 0)),
                int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
            ))
    return jobs, tasks


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
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


def attribute(spans: list[Span], jobs: dict[int, Job], tasks: list[Task]) -> dict:
    """Per-operation-name counters, as per-call means, plus the job-tagging
    audit. A stage's tasks belong to the first job that lists the stage (a
    later job listing it skips it). ``driver_s`` is the span's wall minus the
    union of its jobs' submit-to-complete intervals."""
    by_group = {s.group: s for s in spans}
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for st in jobs[jid].stages:
            stage_job.setdefault(st, jid)
    job_tasks: dict[int, list[Task]] = {}
    for t in tasks:
        jid = stage_job.get(t.stage_id)
        if jid is not None:
            job_tasks.setdefault(jid, []).append(t)
    span_jobs: dict[int, list[Job]] = {}
    for job in jobs.values():
        span = by_group.get(job.group)
        if span is not None:
            span_jobs.setdefault(span.seq, []).append(job)

    per_name: dict[str, dict] = {}
    for s in spans:
        if s.phase == "warmup":
            continue
        acc = per_name.setdefault(s.name, {"calls": 0, "wall_s": 0.0, "driver_s": 0.0,
                                           "jobs": 0, "tasks": 0, "executor_run_s": 0.0,
                                           "shuffle_bytes": 0, "idle_tasks": 0})
        sj = span_jobs.get(s.seq, [])
        covered = union_ms([(j.submit_ms, j.end_ms if j.end_ms is not None else s.end_ms)
                            for j in sj], s.start_ms, s.end_ms)
        acc["calls"] += 1
        acc["wall_s"] += s.wall_s
        acc["driver_s"] += max(0.0, s.wall_s - covered / 1000.0)
        acc["jobs"] += len(sj)
        for j in sj:
            for t in job_tasks.get(j.job_id, []):
                acc["tasks"] += 1
                acc["executor_run_s"] += t.run_ms / 1000.0
                acc["shuffle_bytes"] += t.shuffle_bytes
                acc["idle_tasks"] += t.input_records == 0 and t.shuffle_records == 0

    out = {}
    for name, acc in per_name.items():
        n = acc["calls"]
        for c in ("wall_s", "driver_s", "jobs", "tasks", "executor_run_s", "shuffle_bytes"):
            out[f"{name}.{c}"] = acc[c] / n
        out[f"{name}.idle_task_frac"] = acc["idle_tasks"] / acc["tasks"] if acc["tasks"] else 0.0
    out["trace.untagged_jobs"] = sum(1 for j in jobs.values() if not j.group)
    return out


def cover_frac(spans: list[Span]) -> float:
    """Share of the timed phase (first timed start to last timed end) that
    the timed operations' walls cover."""
    timed = [s for s in spans if s.phase == "timed"]
    if not timed:
        return 0.0
    phase_ms = max(s.end_ms for s in timed) - min(s.start_ms for s in timed)
    return min(1.0, sum(s.wall_s for s in timed) * 1000.0 / phase_ms) if phase_ms > 0 else 1.0
