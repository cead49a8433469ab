"""Spans recorded from the benchmark's own files, and Spark's event log
folded into per-span rows with stdlib ``json``.

A span sets the Spark job group on entry and clears it on exit, so every
job a layer call triggers carries the span's name in the event log and
nothing leaks into the next span. The session of a traced run writes an
uncompressed, non-rolling event log, which needs no codec to read.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# SQL metric names of the pandas-UDF boundary (time in ms, data in bytes)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"


class Spans:
    """In-memory span list: (name, start, end) in epoch seconds."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.rows: list[tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.rows.append((name, t0, time.time()))
            self.sc._jsc.clearJobGroup()

    def wall(self, name: str) -> float:
        return sum(e - s for n, s, e in self.rows if n == name)


class Job:
    __slots__ = ("jid", "group", "submit", "stages")

    def __init__(self, ev: dict):
        props = ev.get("Properties") or {}
        self.jid = ev["Job ID"]
        self.group = props.get("spark.jobGroup.id")
        self.submit = ev["Submission Time"] / 1000.0
        self.stages = set(ev["Stage IDs"])


class Task:
    __slots__ = ("stage", "run_s", "gc_s", "shuffle_b", "spill_b", "out_b",
                 "py_s", "py_b", "failed")

    def __init__(self, ev: dict):
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        self.stage = ev["Stage ID"]
        self.failed = bool(info.get("Failed")) or bool(info.get("Killed"))
        self.run_s = m.get("Executor Run Time", 0) / 1000.0
        self.gc_s = m.get("JVM GC Time", 0) / 1000.0
        self.shuffle_b = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        self.spill_b = m.get("Disk Bytes Spilled", 0)
        self.out_b = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
        self.py_s = float(acc.get(PY_RUN) or 0) / 1000.0
        self.py_b = float(acc.get(PY_SENT) or 0)


class EventLog:
    """Jobs and tasks of one application's event log."""

    def __init__(self, log_dir: str):
        files = [
            os.path.join(log_dir, f) for f in sorted(os.listdir(log_dir))
            if not f.startswith(".") and not f.endswith(".inprogress")
        ]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = Job(ev)
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(Task(ev))
        # a stage runs in the first job that lists it; later jobs list it
        # again as skipped
        self.job_of_stage: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for s in self.jobs[jid].stages:
                self.job_of_stage.setdefault(s, jid)

    def jobs_in(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0 <= j.submit <= t1]

    def fold(self, jobs: list[Job]) -> dict:
        """Task totals over the given jobs; skew is max/median task time of
        the Spark stage with the most task time."""
        ids = {j.jid for j in jobs}
        tasks = [t for t in self.tasks if self.job_of_stage.get(t.stage) in ids]
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t.stage, []).append(t.run_s)
        skew = 1.0
        if by_stage:
            top = max(by_stage.values(), key=sum)
            med = statistics.median(top)
            skew = max(top) / med if med > 0 else 1.0
        return {
            "jobs": len(jobs),
            "task_s": sum(t.run_s for t in tasks),
            "skew": skew,
            "shuffle_mb": sum(t.shuffle_b for t in tasks) / 1e6,
            "spill_mb": sum(t.spill_b for t in tasks) / 1e6,
            "gc_s": sum(t.gc_s for t in tasks),
            "python_s": sum(t.py_s for t in tasks),
            "python_mb": sum(t.py_b for t in tasks) / 1e6,
            "written_mb": sum(t.out_b for t in tasks) / 1e6,
            "failed_tasks": sum(t.failed for t in tasks),
        }

