"""Totals from Spark's JSON event log, attributed to wall-clock windows.

The benchmark runs one operation at a time (closed loop), so every job,
stage and task submitted between an operation's start and end belongs
to that operation.  Attribution is therefore by time window, which also
covers jobs that the program submits from its own helper threads, where
a job group set by the caller does not propagate.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

# SQL operator scopes that mark the pipeline's per-document Python stages
EXTRACT_SCOPE = "MapInPandas"
CHUNK_SCOPE = "MapInArrow"


@dataclass
class _Task:
    launch_ms: int
    duration_ms: int
    stage: tuple
    cpu_ns: int
    shuffle_write: int
    shuffle_read: int
    spill: int


@dataclass
class EventLog:
    job_submit_ms: list[int] = field(default_factory=list)
    stage_submit_ms: dict[tuple, int] = field(default_factory=dict)
    stage_scopes: dict[tuple, set] = field(default_factory=dict)
    tasks: list[_Task] = field(default_factory=list)

    def totals(self, t0: float, t1: float) -> dict:
        """Sum what was submitted in the wall-clock window [t0, t1] (s)."""
        lo, hi = int(t0 * 1000), int(t1 * 1000) + 1
        stages = [s for s, ms in self.stage_submit_ms.items() if lo <= ms <= hi]
        tasks = [t for t in self.tasks if lo <= t.launch_ms <= hi]
        extract = [t for t in tasks if EXTRACT_SCOPE in self.stage_scopes.get(t.stage, ())]
        chunk = [t for t in tasks if CHUNK_SCOPE in self.stage_scopes.get(t.stage, ())]
        durations = [t.duration_ms for t in extract]
        skew = (max(durations) / statistics.median(durations)
                if durations and statistics.median(durations) > 0 else 0.0)
        return {
            "jobs": sum(lo <= ms <= hi for ms in self.job_submit_ms),
            "stages": len(stages),
            "tasks": len(tasks),
            "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "extract_stage_cpu_s": sum(t.cpu_ns for t in extract) / 1e9,
            "chunk_stage_cpu_s": sum(t.cpu_ns for t in chunk) / 1e9,
            "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
            "spill_bytes": sum(t.spill for t in tasks),
            "task_skew": skew,
        }


def _scopes(stage_info: dict) -> set:
    names = set()
    for rdd in stage_info.get("RDD Info", ()):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", ""))
    return names


def _lines(files):
    for path in files:
        with open(path) as fh:
            yield from fh


def load(log_dir: str) -> EventLog:
    """Parse every finished application log in ``log_dir``."""
    log = EventLog()
    if not os.path.isdir(log_dir):
        return log
    for app in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, app)
        # rolling (v2) logs are a directory of events_<n>_<app> files
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            files = [os.path.join(path, f)
                     for f in sorted(parts, key=lambda f: int(f.split("_")[1]))]
        else:
            files = [path]
        for line in _lines(files):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.job_submit_ms.append(ev["Submission Time"])
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (app, info["Stage ID"], info["Stage Attempt ID"])
                log.stage_scopes[key] = _scopes(info)
                if "Submission Time" in info:
                    log.stage_submit_ms[key] = info["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                log.tasks.append(_Task(
                    launch_ms=info["Launch Time"],
                    duration_ms=info["Finish Time"] - info["Launch Time"],
                    stage=(app, ev["Stage ID"], ev["Stage Attempt ID"]),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                ))
    return log
