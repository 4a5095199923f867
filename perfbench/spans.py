"""Spans around the benchmark's calls, and the Spark event log joined to them.

A span is ``(name, start, end, parent, run_id)`` in wall-clock seconds.  With
tagging on, every Spark job a span starts carries the span's name as its job
group, so the event log can attribute each task to the innermost span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder; ``sc`` set means jobs are tagged.

    ``overhead_s`` sums the time spent tagging jobs and recording spans, all
    of it inside the spans it serves.
    """

    run_id: str
    sc: object = None
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _stack: list[str] = field(default_factory=list)

    def _tag(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        start = time.time()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._tag(name)
        self.overhead_s += time.time() - start
        try:
            yield
        finally:
            t = time.time()
            self._stack.pop()
            self._tag(parent)
            end = time.time()
            self.spans.append(Span(name, start, end, parent, self.run_id))
            self.overhead_s += end - t

    def seconds(self, name: str) -> list[float]:
        """Durations of every span called ``name``, in the order they ended."""
        return [s.end - s.start for s in self.spans if s.name == name]

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [s.__dict__ for s in self.spans], **extra}, f, indent=1)


@dataclass
class Job:
    job_id: int
    group: str | None
    submitted: float
    tasks: list[dict] = field(default_factory=list)  # per task: stage, run_s, ...


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs from the Spark event log in ``log_dir``, each with its tasks.

    A task belongs to the latest started job that lists its stage.
    """
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".crc")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: list[Job] = []
    stage_job: dict[int, Job] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                job = Job(ev["Job ID"], (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                          ev["Submission Time"] / 1000.0)
                jobs.append(job)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                job.tasks.append({
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                })
    return jobs


def totals(jobs: list[Job]) -> dict:
    """Spark totals over ``jobs``: jobs, tasks, task time, GC, shuffle, spill."""
    tasks = [t for j in jobs for t in j.tasks]
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "task_s": sum(t["run_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_mb": sum(t["shuffle_b"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
        "failed_tasks": sum(t["failed"] for t in tasks),
    }


def task_skew(jobs: list[Job]) -> float:
    """Median over jobs of max ÷ median task time in the job's heaviest stage."""
    ratios = []
    for j in jobs:
        by_stage: dict[int, list[float]] = {}
        for t in j.tasks:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        if not by_stage:
            continue
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        if len(heavy) > 1 and med > 0:
            ratios.append(max(heavy) / med)
    return statistics.median(ratios) if ratios else 1.0


def jobs_in(jobs: list[Job], start: float, end: float, group: str | None = None) -> list[Job]:
    """Jobs submitted within ``[start, end]`` (event-log times are whole
    milliseconds), optionally only those tagged ``group``."""
    return [j for j in jobs if start - 0.001 <= j.submitted <= end + 0.001
            and (group is None or j.group == group)]
