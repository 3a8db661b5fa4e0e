"""Spark event log (JSON lines) -> scheduler, executor and shuffle figures.

Jobs are attributed to a window (a query, or a whole pass) by submission
time and tasks by launch time; ``spark.stages`` counts the stages that ran
tasks. ``sched_gap_s`` is the window's wall time not covered by any job
interval, so overlapping jobs from pooled fits are counted once.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

_MB = 1024.0 * 1024.0


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float | None = None


@dataclass
class Task:
    stage_id: int
    launch: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def parse(lines) -> EventLog:
    """Parse an iterable of event-log lines."""
    log = EventLog()
    jobs: dict[int, Job] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(e["Job ID"], e["Submission Time"] / 1000.0)
            jobs[job.job_id] = job
            log.jobs.append(job)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            log.tasks.append(
                Task(
                    stage_id=e["Stage ID"],
                    launch=info["Launch Time"] / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write_b=wr.get("Shuffle Bytes Written", 0),
                    shuffle_read_b=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                )
            )
    return log


def read(path: Path) -> EventLog:
    with open(path) as fh:
        return parse(fh)


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def window_jobs(log: EventLog, lo: float, hi: float) -> list[Job]:
    """Jobs submitted inside [lo, hi)."""
    return [j for j in log.jobs if lo <= j.start < hi]


def figures(log: EventLog, windows, cores: int) -> dict[str, float]:
    """Summed figures over ``windows`` (a list of (start, end) epoch
    seconds), named as the benchmark reports them."""
    jobs = [j for lo, hi in windows for j in window_jobs(log, lo, hi)]
    tasks = [t for t in log.tasks if any(lo <= t.launch < hi for lo, hi in windows)]
    wall = sum(hi - lo for lo, hi in windows)
    busy = sum(
        covered_s([(j.start, j.end if j.end is not None else hi) for j in window_jobs(log, lo, hi)], lo, hi)
        for lo, hi in windows
    )
    run_s = sum(t.run_s for t in tasks)
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len({t.stage_id for t in tasks})),
        "spark.tasks": float(len(tasks)),
        "spark.sched_gap_s": wall - busy,
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t.cpu_s for t in tasks),
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / _MB,
        "spark.shuffle_read_mb": sum(t.shuffle_read_b for t in tasks) / _MB,
        "spark.spill_mb": sum(t.spill_b for t in tasks) / _MB,
        "spark.core_util": run_s / (wall * cores) if wall > 0 else 0.0,
    }
