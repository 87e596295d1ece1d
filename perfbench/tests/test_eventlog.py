import json

import eventlog
from harness import layer_metrics, stream_metrics
from spans import Tracer


def _lines():
    plan = {"nodeName": "Project", "metrics": [], "children": [
        {"nodeName": "MapInPandas", "children": [], "metrics": [
            {"name": "number of output rows", "accumulatorId": 7},
            {"name": "data returned from Python workers", "accumulatorId": 8}]}]}
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 3,
        "Task Info": {"Accumulables": [
            {"ID": 7, "Name": "number of output rows", "Update": "40"},
            {"ID": 8, "Name": "data returned from Python workers",
             "Update": 1 << 20},
            {"ID": 9, "Name": "number of output rows", "Update": 5}]},
        "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
            "JVM GC Time": 100, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 1 << 20,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 2 << 20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3 << 20},
            "Input Metrics": {"Bytes Read": 4 << 20},
            "Output Metrics": {"Bytes Written": 0}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 10_000, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "q1|build|0"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        task,
        dict(task, **{"Task Metrics": dict(task["Task Metrics"],
                                           **{"Executor Run Time": 500})}),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 12_500},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$"
                  "QueryProgressEvent", "progress": {"batchId": 0}},
    ]
    return [json.dumps(e) for e in events]


def test_jobs_keep_their_times_and_tasks():
    log = eventlog.parse(_lines())
    job = log.jobs[1]
    assert (job.group, job.start, job.end, job.tasks) == ("q1|build|0", 10.0, 12.5, 2)


def test_task_metrics_are_summed_per_job():
    t = eventlog.parse(_lines()).jobs[1].totals
    assert t["run_s"] == 2.0
    assert t["cpu_s"] == 2.0
    assert t["gc_s"] == 0.2
    assert t["spill_mb"] == 2.0
    assert t["shuffle_read_mb"] == 4.0
    assert t["shuffle_write_mb"] == 6.0
    assert t["input_mb"] == 8.0


def test_python_metrics_come_only_from_python_nodes():
    log = eventlog.parse(_lines())
    assert log.python_rows == 80  # accumulator 9 is not a Python node's
    assert log.python_bytes == 2 << 20
    assert log.stage_tasks[3] == [1.5, 0.5]
    assert log.progress == [{"batchId": 0}]


def test_stream_metrics_from_progress():
    def progress(run, batch, dur, rows, commit):
        return {"runId": run, "batchId": batch, "batchDuration": dur,
                "durationMs": {"addBatch": dur // 2, "walCommit": 10,
                               "commitOffsets": 20},
                "stateOperators": [{"numRowsTotal": rows,
                                    "memoryUsedBytes": rows << 10,
                                    "commitTimeMs": commit}]}
    m = stream_metrics([progress("a", 0, 1000, 10, 5),
                        progress("a", 1, 3000, 30, 5),
                        progress("b", 0, 2000, 7, 10)])
    assert m["stream.batches"] == 3
    assert m["stream.batch_p50_s"] == 2.0
    assert m["stream.add_batch_s"] == 3.0
    assert m["stream.wal_s"] == 0.09
    assert m["stream.state_rows"] == 37  # last batch of each query
    assert m["stream.state_mb"] == 37 / 1024


def test_jobs_and_batches_go_to_the_phase_they_start_in():
    """A streaming query's jobs run under its run id, not the caller's job
    group; they are placed by time. Work outside every phase (the set-up's
    warm-up query) is left out."""
    run_id = "6f1c2a9e-0d3b-4c55-9a1e-2b7f3c4d5e6f"

    def job(job_id, start, end, stage, group):
        props = {"spark.jobGroup.id": group} if group else {}
        return [{"Event": "SparkListenerJobStart", "Job ID": job_id,
                 "Submission Time": start, "Stage IDs": [stage],
                 "Properties": props},
                {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                 "Task Metrics": {"Executor Run Time": end - start}},
                {"Event": "SparkListenerJobEnd", "Job ID": job_id,
                 "Completion Time": end}]

    events = (job(0, 500, 900, 0, None)  # warm-up query, before the op
              + job(1, 1_500, 2_500, 1, run_id)  # stream batch in build
              + job(2, 5_000, 6_000, 2, None))  # the forcing action
    events.append({"Event": "org.apache.spark.sql.streaming."
                            "StreamingQueryListener$QueryProgressEvent",
                   "progress": {"runId": run_id, "batchId": 0,
                                "timestamp": "1970-01-01T00:00:01.200Z",
                                "batchDuration": 1_500}})
    log = eventlog.parse(json.dumps(e) for e in events)
    t = Tracer()
    op = t.add("op:q1", 1.0, 7.0, None)
    build = t.add("build", 1.0, 4.0, op)
    exec_ = t.add("exec", 4.0, 7.0, op)
    m = layer_metrics(t, log)
    assert (m["build.jobs"], m["exec.jobs"]) == (1, 1)
    assert (m["build.job_s"], m["exec.job_s"]) == (1.0, 1.0)
    assert (m["build.s"], m["exec.s"], m["exec.driver_s"]) == (3.0, 3.0, 2.0)
    assert m["task.run_s"] == 2.0  # the warm-up job's task is left out
    spans = {s.name: s for s in t.spans}
    assert spans["batch:0"].parent == build
    assert (spans["batch:0"].start, spans["batch:0"].end) == (1.2, 2.7)
    assert t.spans[spans["job:1"].parent].name == "batch:0"
    assert spans["job:2"].parent == exec_
    assert "job:0" not in spans
