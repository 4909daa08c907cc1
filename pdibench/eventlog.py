"""Spark scheduling and executor ledger read from an uncompressed event log.

Jobs, stages, tasks and streaming micro-batches are assigned to a
time window (an op sample) by when they started: job and stage
submission, task launch, micro-batch trigger. ``setJobGroup`` cannot
attribute them, because a streaming query's jobs carry the query's
runId as their job group.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
from dataclasses import dataclass, field

PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class EventLog:
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, end) s
    stages: list[float] = field(default_factory=list)  # submit
    tasks: list[tuple[float, dict]] = field(default_factory=list)  # (launch, metrics)
    batches: list[tuple[float, float]] = field(default_factory=list)  # (trigger, ms)


def _log_files(log_dir: str) -> list[str]:
    """Event files of the one application in `log_dir`, in write order
    (rolling logs live in an ``eventlog_v2_*`` directory)."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out += [os.path.join(path, p) for p in parts]
        elif not entry.startswith("."):
            out.append(path)
    return out


def _iso_seconds(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def read_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    job_start: dict[int, float] = {}
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job_start[e["Job ID"]] = e["Submission Time"] / 1000
                elif kind == "SparkListenerJobEnd":
                    t0 = job_start.pop(e["Job ID"], None)
                    if t0 is not None:
                        log.jobs.append((t0, e["Completion Time"] / 1000))
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if "Submission Time" in info:
                        log.stages.append(info["Submission Time"] / 1000)
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    log.tasks.append(
                        (
                            e["Task Info"]["Launch Time"] / 1000,
                            {
                                "run_ms": m.get("Executor Run Time", 0),
                                "cpu_ns": m.get("Executor CPU Time", 0),
                                "gc_ms": m.get("JVM GC Time", 0),
                                "input_b": m.get("Input Metrics", {}).get("Bytes Read", 0),
                                "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0),
                                "shuffle_write_b": m.get("Shuffle Write Metrics", {}).get(
                                    "Shuffle Bytes Written", 0
                                ),
                            },
                        )
                    )
                elif kind == PROGRESS:
                    p = e["progress"]
                    log.batches.append(
                        (_iso_seconds(p["timestamp"]), p["durationMs"].get("triggerExecution", 0))
                    )
    return log


def _union_within(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


def ledger(log: EventLog, t0: float, t1: float) -> dict[str, float]:
    """Scheduling and executor totals for work that started in [t0, t1).
    `in_job_s` is the union of job intervals inside the window."""
    jobs = [j for j in log.jobs if t0 <= j[0] < t1]
    tasks = [m for t, m in log.tasks if t0 <= t < t1]
    in_job = _union_within(jobs, t0, t1)
    mb = 1 / (1024 * 1024)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(1 for s in log.stages if t0 <= s < t1),
        "spark.tasks": len(tasks),
        "spark.in_job_s": in_job,
        "spark.outside_jobs_s": (t1 - t0) - in_job,
        "spark.executor_cpu_s": sum(m["cpu_ns"] for m in tasks) / 1e9,
        "spark.executor_run_s": sum(m["run_ms"] for m in tasks) / 1000,
        "spark.gc_s": sum(m["gc_ms"] for m in tasks) / 1000,
        "spark.input_mb": sum(m["input_b"] for m in tasks) * mb,
        "spark.shuffle_write_mb": sum(m["shuffle_write_b"] for m in tasks) * mb,
        "spark.shuffle_read_mb": sum(m["shuffle_read_b"] for m in tasks) * mb,
        "streaming.batches": sum(1 for b in log.batches if t0 <= b[0] < t1),
    }


def batch_ms(log: EventLog, t0: float, t1: float) -> list[float]:
    return [ms for t, ms in log.batches if t0 <= t < t1]


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
