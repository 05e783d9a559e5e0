"""Spark event-log parsing and per-span attribution of jobs and tasks.

Spark writes one JSON object per line. Only three events matter here:
``SparkListenerJobStart`` (job id, submission time, stage ids),
``SparkListenerJobEnd`` (completion time) and ``SparkListenerTaskEnd``
(stage id, launch/finish times and the task's metrics). Each job is
attributed to the innermost span open when it was submitted; a span's
totals include the jobs of the spans nested inside it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import spans as spans_mod
from perfbench.stats import median

MB = 1e6

# Per-span metrics the traced run reports, with their units.
SPAN_METRICS = {
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "tasks": "count",
    "task_p50_s": "s",
    "task_max_s": "s",
}


@dataclass
class Task:
    stage: int
    duration_s: float
    gc_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class Job:
    id: int
    submit_s: float
    end_s: float | None
    stages: list[int]
    tasks: list[Task] = field(default_factory=list)


def parse(lines) -> list[Job]:
    """Jobs with their tasks from an iterable of event-log lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, None,
                      list(ev.get("Stage IDs", [])))
            jobs[job.id] = job
            for st in job.stages:
                # A stage shared by several jobs runs once, in the first.
                stage_job.setdefault(st, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            tasks.append(_task(ev))
    for t in tasks:
        jid = stage_job.get(t.stage)
        if jid is not None:
            jobs[jid].tasks.append(t)
    return sorted(jobs.values(), key=lambda j: j.id)


def parse_dir(path: Path) -> list[Job]:
    """Parse the single event-log file Spark wrote under ``path``."""
    files = [p for p in Path(path).iterdir() if p.is_file()]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {path}, found {files}")
    with open(files[0]) as fh:
        return parse(fh)


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics", {})
    wr = m.get("Shuffle Write Metrics", {})
    return Task(
        stage=ev["Stage ID"],
        duration_s=(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        / 1000.0,
        gc_s=m.get("JVM GC Time", 0) / 1000.0,
        shuffle_read_bytes=rd.get("Remote Bytes Read", 0)
        + rd.get("Local Bytes Read", 0),
        shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
    )


def tasks_by_span(jobs: list[Job], spans: list[dict]) -> dict[str, list[Task]]:
    """Span name -> tasks of the jobs submitted inside any span of that
    name, nested spans included. Jobs outside every span are dropped."""
    out: dict[str, list[Task]] = {}
    for job in jobs:
        inner = spans_mod.innermost_span(spans, job.submit_s)
        if inner is None:
            continue
        names = {s["name"] for s in spans_mod.ancestry(spans, inner["id"])}
        for name in names:
            out.setdefault(name, []).extend(job.tasks)
    return out


def span_metrics(tasks: list[Task]) -> dict[str, float]:
    """The :data:`SPAN_METRICS` values for one span's tasks."""
    durs = [t.duration_s for t in tasks]
    return {
        "shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / MB,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / MB,
        "spill_mb": sum(t.spill_bytes for t in tasks) / MB,
        "gc_s": sum(t.gc_s for t in tasks),
        "tasks": float(len(tasks)),
        "task_p50_s": median(durs) if durs else 0.0,
        "task_max_s": max(durs) if durs else 0.0,
    }
