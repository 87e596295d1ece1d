"""Spark event log parser: jobs, task metrics and streaming progress.

Reads the plain JSON-lines event log Spark writes with
``spark.eventLog.compress=false`` and rolling disabled. Each job keeps its
submission and completion time and the summed metrics of its tasks (a
task belongs to the job of its stage). The benchmark attributes a job to
the op phase whose time span contains the job's start: a job group would
miss the jobs a streaming query submits from its own thread, which Spark
runs under the query's run id instead.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: physical plan nodes that run Python workers
PYTHON_NODES = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
                "AggregateInPandas", "WindowInPandas",
                "FlatMapGroupsInPandasWithState", "PythonMapInArrow")
_MB = 1 << 20


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    #: summed task metrics (seconds and MB)
    totals: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    #: per stage: task run times (s), for skew
    stage_tasks: dict[int, list[float]] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)
    python_rows: int = 0
    python_bytes: int = 0


def _plan_python_accums(plan: dict, out: dict[int, str]) -> None:
    """Map accumulator ids of Python-node metrics to their metric name."""
    name = plan.get("nodeName", "")
    if any(name.startswith(p) for p in PYTHON_NODES):
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_python_accums(child, out)


def parse(lines) -> EventLog:
    log = EventLog()
    stage_job: dict[int, int] = {}
    py_accums: dict[int, str] = {}
    py_values: dict[int, int] = {}
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = e.get("Properties", {}).get("spark.jobGroup.id")
            job = Job(e["Job ID"], group, e["Submission Time"] / 1000,
                      stages=list(e["Stage IDs"]))
            log.jobs[job.job_id] = job
            for s in job.stages:
                stage_job[s] = job.job_id
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job:
                job.end = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            _task_end(log, e, stage_job, py_accums, py_values)
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_python_accums(e.get("sparkPlanInfo", {}), py_accums)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e.get("accumUpdates", []):
                if acc_id in py_accums:
                    py_values[acc_id] = py_values.get(acc_id, 0) + int(value)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            log.progress.append(e["progress"])
    for acc_id, value in py_values.items():
        name = py_accums[acc_id]
        if name == "number of output rows":
            log.python_rows += value
        elif name in ("data sent to Python workers",
                      "data returned from Python workers"):
            log.python_bytes += value
    return log


def _task_end(log: EventLog, e: dict, stage_job: dict[int, int],
              py_accums: dict[int, str], py_values: dict[int, int]) -> None:
    stage = e["Stage ID"]
    job = log.jobs.get(stage_job.get(stage, -1))
    if job:
        job.tasks += 1
    m = e.get("Task Metrics") or {}
    if not m or job is None:
        return
    t = job.totals
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    run_s = m.get("Executor Run Time", 0) / 1000
    adds = {
        "run_s": run_s,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)) / _MB,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / _MB,
        "spill_mb": (m.get("Memory Bytes Spilled", 0)
                     + m.get("Disk Bytes Spilled", 0)) / _MB,
        "input_mb": m.get("Input Metrics", {}).get("Bytes Read", 0) / _MB,
        "output_mb": m.get("Output Metrics", {}).get("Bytes Written", 0) / _MB,
    }
    for k, v in adds.items():
        t[k] = t.get(k, 0.0) + v
    log.stage_tasks.setdefault(stage, []).append(run_s)
    for acc in e.get("Task Info", {}).get("Accumulables", []):
        acc_id = acc.get("ID")
        if acc_id in py_accums:
            # SQL metric updates are logged as strings
            py_values[acc_id] = py_values.get(acc_id, 0) + int(acc["Update"])


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)
