"""Offline parser for an uncompressed Spark event log.

The traced run turns the event log on from outside the program
(``spark.eventLog.enabled=true``, ``spark.eventLog.compress=false``) and
reads it back here once the session has stopped. Each job carries the
local properties it was submitted under, so a job, its stages and its
tasks can be attributed to the span that set ``SPAN_PROPERTY`` or to the
streaming micro-batch (``streaming.sql.batchId``) that ran it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
BATCH_PROPERTY = "streaming.sql.batchId"
EXEC_PROPERTY = "spark.sql.execution.id"

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
FILES_READ = "number of files read"


@dataclass
class Task:
    stage: int
    launch_ms: int
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    failed: bool = False


@dataclass
class Job:
    id: int
    start_ms: int
    props: dict
    stages: list[int]

    @property
    def span(self) -> str | None:
        return self.props.get(SPAN_PROPERTY)

    @property
    def batch(self) -> int | None:
        b = self.props.get(BATCH_PROPERTY)
        return int(b) if b is not None else None

    @property
    def execution(self) -> int | None:
        e = self.props.get(EXEC_PROPERTY)
        return int(e) if e is not None else None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stage_job: dict[int, int] = field(default_factory=dict)
    # SQL metric accumulator id -> metric name, and driver-side totals
    metric_names: dict[int, str] = field(default_factory=dict)
    driver_metrics: dict[int, dict[str, int]] = field(default_factory=dict)

    def job_of_task(self, t: Task) -> Job | None:
        j = self.stage_job.get(t.stage)
        return self.jobs.get(j) if j is not None else None

    def tasks_between(self, lo_ms: float, hi_ms: float) -> list[Task]:
        return [t for t in self.tasks if lo_ms <= t.launch_ms <= hi_ms]

    def jobs_between(self, lo_ms: float, hi_ms: float) -> list[Job]:
        return [j for j in self.jobs.values() if lo_ms <= j.start_ms <= hi_ms]

    def executions_of(self, jobs: list[Job]) -> set[int]:
        return {j.execution for j in jobs if j.execution is not None}


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    py = 0
    for acc in info.get("Accumulables", []):
        if acc.get("Name") in (PY_SENT, PY_RECEIVED):
            py += int(acc.get("Update") or 0)
    return Task(
        stage=int(ev["Stage ID"]),
        launch_ms=int(info.get("Launch Time", 0)),
        run_ms=int(m.get("Executor Run Time", 0)),
        gc_ms=int(m.get("JVM GC Time", 0)),
        shuffle_write_bytes=int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
        spill_bytes=int(m.get("Memory Bytes Spilled", 0)) + int(m.get("Disk Bytes Spilled", 0)),
        python_bytes=py,
        failed=bool(info.get("Failed")) or (ev.get("Task End Reason") or {}).get("Reason") != "Success",
    )


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = Job(
                id=int(ev["Job ID"]),
                start_ms=int(ev.get("Submission Time", 0)),
                props={str(k): str(v) for k, v in (ev.get("Properties") or {}).items()},
                stages=[int(s) for s in ev.get("Stage IDs", [])],
            )
            log.jobs[job.id] = job
            for s in job.stages:
                log.stage_job.setdefault(s, job.id)
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(ev))
        elif kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _plan_metrics(ev.get("sparkPlanInfo", {}), log.metric_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            totals = log.driver_metrics.setdefault(int(ev["executionId"]), {})
            for acc_id, value in ev.get("accumUpdates", []):
                name = log.metric_names.get(int(acc_id), str(acc_id))
                totals[name] = totals.get(name, 0) + int(value)
    return log


def parse_dir(path: str) -> EventLog:
    """Parse every event-log file Spark wrote under ``path`` (a rolling
    log is a directory of ``events_<n>_<app>`` files, read in order)."""
    files = []
    for dirpath, _, names in os.walk(path):
        files += [os.path.join(dirpath, n) for n in names if n.startswith(("events_", "local-", "app-"))]
    lines: list[str] = []
    for full in sorted(files, key=lambda p: (os.path.dirname(p), _roll_index(p))):
        with open(full) as f:
            lines.extend(f)
    return parse_lines(lines)


def _roll_index(path: str) -> int:
    name = os.path.basename(path)
    parts = name.split("_")
    return int(parts[1]) if name.startswith("events_") and parts[1].isdigit() else 0
