"""One benchmark run: set up, run the workload's op pool once, check,
report.

Untraced run (the end-to-end numbers)::

    cold set-up #1 -> tear down -> cold set-up #2 -> pass -> checks

Traced run (the per-layer numbers)::

    untraced run, as above, in a child process (its wall_s is the
    reference for trace.overhead_ratio)
    -> cold set-up #1 -> tear down -> cold set-up #2 with the event log on
    -> traced pass -> checks

A cold set-up launches a new JVM through the program's ``get_spark`` and
runs one warm-up query. The pass runs the pool once in its fixed order;
every op is checked. The traced pass and the untraced pass it is compared
with are each the first pass of a fresh process after two cold set-ups,
so neither inherits the other's warm caches.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

import eventlog
import host
from stats import covered, geomean
from spans import Tracer, containing, count_py4j, wrap_modules

#: cold set-ups per run; setup_s is their median
SETUPS = 2
#: an op still running after this long is cancelled and counted as failed
OP_TIMEOUT_S = 60
#: the untraced run a traced run starts for its comparison must end by then
UNTRACED_TIMEOUT_S = 150
#: Spark threads: local[min(4, nproc)]
MAX_CORES = 4
#: bumped whenever datagen's fixed tables change
TABLES_VERSION = "v4"

MODULE_LAYERS = ("relational", "timeseries", "stats", "text", "dedup",
                 "similarity", "graph", "multimodal", "sources", "plans",
                 "features", "functions")
#: modules both workloads call, so their time is never a constant zero;
#: the results file has every module span
TIMED_MODULES = ("relational", "stats", "sources")


@dataclass
class Sample:
    op: str
    build_s: float = 0.0
    exec_s: float = 0.0
    problem: str | None = None
    result: object = None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Pass:
    """One run of the pool, in order."""
    samples: list[Sample] = field(default_factory=list)
    wall_s: float = 0.0
    tracer: Tracer | None = None


def cores() -> int:
    return min(MAX_CORES, host.nproc())


# --- isolation ---------------------------------------------------------------

def ensure_tables(base: str) -> str:
    """The fixed-seed fixture tables, generated once per checkout and
    reused by later runs (written to a temp dir, then renamed)."""
    import datagen

    path = os.path.join(base, "cache", f"tables-{TABLES_VERSION}")
    if not os.path.isdir(path):
        tmp = f"{path}.{uuid.uuid4().hex[:8]}"
        datagen.write_tables(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # another run won the race
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def isolate(run_root: str, root: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers into this run's own directory, and put the repository on the
    workers' import path."""
    for d in ("local", "tmp", "shm", "warehouse", "eventlog", "inputs", "out"):
        os.makedirs(os.path.join(run_root, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    # no hsperfdata files in /tmp from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def redirect_stream_scratch(run_root: str) -> None:
    """The program puts verification checkpoints and partial frames in
    ``/dev/shm``; keep them inside the run instead, where what is left
    behind can be measured."""
    import tempfile

    from powerdatapipeline_spark.streaming import pipeline

    shm = os.path.join(run_root, "shm")
    pipeline.scratch_dir = lambda prefix: tempfile.mkdtemp(prefix=prefix, dir=shm)


def spark_conf(run_root: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_root, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_root, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# --- session -----------------------------------------------------------------

def cold_setup(conf: dict[str, str], tables: str):
    """Launch a JVM and session through the program, then warm it with
    one scan-and-aggregate query. Returns (spark, session_s, warm_s)."""
    from powerdatapipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores()}]",
                      shuffle_partitions=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    (spark.read.parquet(os.path.join(tables, "events.parquet"))
     .groupBy("event_type").count().collect())
    return spark, t1 - t0, time.perf_counter() - t1


def teardown(spark) -> None:
    """Stop the session and its JVM, so the next set-up is cold."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --- the pass ------------------------------------------------------------------

class Watchdog:
    """Cancels the running op's Spark work after ``OP_TIMEOUT_S``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.timer: threading.Timer | None = None

    def _fire(self) -> None:
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def __enter__(self):
        self.timer = threading.Timer(OP_TIMEOUT_S, self._fire)
        self.timer.daemon = True
        self.timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self.timer.cancel()


@contextmanager
def _no_span(name: str, **attrs):
    yield


def run_op(op, ctx, tracer: Tracer | None) -> Sample:
    """Build and force one op. A failed op keeps the time it ran for. In
    a traced pass the op and each phase get a span."""
    s = Sample(op.name)
    span = tracer.span if tracer else _no_span
    with Watchdog(ctx.spark), span(f"op:{op.name}"):
        t = time.perf_counter()
        try:
            with span("build"):
                built = op.build(ctx)
            s.build_s = time.perf_counter() - t
            t = time.perf_counter()
            with span("exec"):
                s.result = op.force(ctx, built)
            s.exec_s = time.perf_counter() - t
        except Exception as exc:  # an op failure is a result, not a crash
            s.problem = f"raised {type(exc).__name__}: {str(exc)[:200]}"
            if s.build_s:
                s.exec_s = time.perf_counter() - t
            else:
                s.build_s = time.perf_counter() - t
    return s


def timed_pass(ops, ctx, tracer: Tracer | None, oracle) -> Pass:
    """Run the pool once, in order; row-check every op as it finishes."""
    p = Pass(tracer=tracer)
    t0 = time.perf_counter()
    for op in ops:
        s = run_op(op, ctx, tracer)
        p.samples.append(s)
        if s.problem is None and op.oracle is not None:
            s.problem = oracle.check_rows(op.oracle, s.result)
    p.wall_s = time.perf_counter() - t0
    return p


def check_outputs(ops, ctx, p: Pass, oracle) -> None:
    """Untimed: each op's values against its oracle, and the pipeline
    stages' own checks."""
    for op, s in zip(ops, p.samples):
        if s.problem is None:
            if op.check is not None:
                s.problem = op.check(ctx, s.result)
            else:
                s.problem = oracle.check_values(op.oracle, s.result,
                                                subset=op.oracle_subset)
        s.result = None


# --- per-layer metrics ---------------------------------------------------------

def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def attribute(tracer: Tracer, log: eventlog.EventLog) -> dict[int, list]:
    """Add streaming micro-batches and Spark jobs to the trace and return
    the jobs of each build/exec span. Each goes to the phase span during
    which it started (the ops run one at a time on one driver thread); a
    job that starts inside a micro-batch of that phase goes under the
    batch. Work outside every phase (the set-up's warm-up query) is left
    out."""
    spans = tracer.spans
    phases = [i for i, sp in enumerate(spans) if sp.name in ("build", "exec")]
    batches = []
    for p in sorted(log.progress, key=lambda p: p["timestamp"]):
        start = _epoch(p["timestamp"])
        phase = containing(spans, phases, start)
        if phase is not None:
            batches.append(tracer.add(
                f"batch:{p.get('batchId')}", start,
                start + p.get("batchDuration", 0) / 1000, phase,
                run_id=p.get("runId")))
    jobs: dict[int, list] = {i: [] for i in phases}
    for job in sorted(log.jobs.values(), key=lambda j: j.start):
        phase = containing(spans, phases, job.start)
        if phase is None:
            continue
        jobs[phase].append(job)
        batch = containing(spans, batches, job.start)
        parent = batch if batch is not None and spans[batch].parent == phase \
            else phase
        tracer.add(f"job:{job.job_id}", job.start, max(job.end, job.start),
                   parent, tasks=job.tasks)
    return jobs


def layer_metrics(tracer: Tracer, log: eventlog.EventLog) -> dict[str, float]:
    """Build/exec phase, task, Python-worker, module and streaming numbers
    of the traced pass."""
    m: dict[str, float] = {}
    jobs_of = attribute(tracer, log)
    for phase in ("build", "exec"):
        total = job_s = py4j = 0.0
        n_jobs = n_tasks = 0
        for i, jobs in jobs_of.items():
            sp = tracer.spans[i]
            if sp.name != phase:
                continue
            n_jobs += len(jobs)
            n_tasks += sum(j.tasks for j in jobs)
            job_s += covered([(j.start, j.end) for j in jobs], sp.start, sp.end)
            total += sp.duration
            py4j += sp.attrs.get("py4j", 0)
        m[f"{phase}.s"] = total
        m[f"{phase}.jobs"] = n_jobs
        m[f"{phase}.tasks"] = n_tasks
        m[f"{phase}.job_s"] = job_s
        if phase == "build":
            m["build.py4j_calls"] = py4j
        else:
            m["exec.driver_s"] = total - job_s
    jobs = [j for js in jobs_of.values() for j in js]
    for key, name in (("run_s", "task.run_s"), ("cpu_s", "task.cpu_s"),
                      ("gc_s", "task.gc_s"),
                      ("shuffle_read_mb", "shuffle.read_mb"),
                      ("shuffle_write_mb", "shuffle.write_mb"),
                      ("spill_mb", "spill.mb"), ("input_mb", "input.mb"),
                      ("output_mb", "output.mb")):
        m[name] = sum(j.totals.get(key, 0.0) for j in jobs)
    stages = [log.stage_tasks[s] for j in jobs for s in j.stages
              if s in log.stage_tasks]
    skews = [max(ts) / statistics.median(ts) for ts in stages
             if len(ts) >= 2 and statistics.median(ts) > 0]
    m["stage.task_skew"] = statistics.median(skews) if skews else 1.0
    m["python.rows"] = log.python_rows
    m["python.mb"] = log.python_bytes / (1 << 20)
    self_times = tracer.self_times()
    for layer in MODULE_LAYERS:
        label = f"module:{layer}"
        idxs = [i for i, sp in enumerate(tracer.spans) if sp.name == label]
        m[f"op.{layer}.calls"] = len(idxs)
        if layer in TIMED_MODULES:
            m[f"op.{layer}.s"] = sum(self_times[i] for i in idxs)
    m.update(stream_metrics(log.progress))
    return m


def stream_metrics(progress: list[dict]) -> dict[str, float]:
    """Micro-batch numbers from the streaming progress events: batch count
    and median duration, time in addBatch and in the offset/commit logs,
    and state-store size at each query's last batch."""
    durations = [p.get("batchDuration", 0) / 1000 for p in progress]
    last_state = {p.get("runId"): p.get("stateOperators", []) for p in progress}
    d = [p.get("durationMs", {}) for p in progress]
    return {
        "stream.batches": len(progress),
        "stream.batch_p50_s": statistics.median(durations) if durations else 0.0,
        "stream.add_batch_s": sum(x.get("addBatch", 0) for x in d) / 1000,
        "stream.wal_s": sum(x.get("walCommit", 0) + x.get("commitOffsets", 0)
                            for x in d) / 1000,
        "stream.state_rows": sum(o.get("numRowsTotal", 0)
                                 for ops in last_state.values() for o in ops),
        "stream.state_mb": sum(o.get("memoryUsedBytes", 0)
                               for ops in last_state.values() for o in ops)
        / (1 << 20),
    }


def module_map() -> dict[str, list]:
    import powerdatapipeline_spark.features.featurespace as featurespace
    import powerdatapipeline_spark.functions.datetime_funcs as datetime_funcs
    import powerdatapipeline_spark.functions.vector as vector
    import powerdatapipeline_spark.plans.pipeline as plans
    import powerdatapipeline_spark.sources.readers as readers
    from powerdatapipeline_spark.operators import (dedup, graph, multimodal,
                                                   relational, similarity,
                                                   stats, text, timeseries)

    return {
        "relational": [relational], "timeseries": [timeseries],
        "stats": [stats], "text": [text], "dedup": [dedup],
        "similarity": [similarity], "graph": [graph],
        "multimodal": [multimodal], "sources": [readers], "plans": [plans],
        "features": [featurespace],
        "functions": [datetime_funcs, vector],
    }


# --- the run -------------------------------------------------------------------

def run(workload: str, seed: int, seconds: float, traced: bool, root: str,
        t_process: float) -> tuple[dict, list[str]]:
    """Returns the result object and the names (with reasons) of failed
    ops."""
    base = os.path.join(root, ".perfbench")
    run_id = f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    run_root = os.path.join(base, "runs", run_id)
    reference = untraced_run(workload, seed, seconds, root) if traced else None
    try:
        return _run(workload, seed, root, base, run_root, t_process,
                    reference)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def untraced_run(workload: str, seed: int, seconds: float,
                 root: str) -> tuple[dict, list[str]]:
    """The untraced run of the same workload and seed, in a child process
    started before this one touches Spark: its result and failed ops."""
    import subprocess

    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    out = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                         timeout=UNTRACED_TIMEOUT_S, check=True).stdout
    lines = out.strip().splitlines()
    prefix = "perfbench: failed ops: "
    failed = [f"untraced run: {f}" for line in lines[:-1]
              if line.startswith(prefix)
              for f in line[len(prefix):].split("; ")]
    return json.loads(lines[-1]), failed


def _run(workload, seed, root, base, run_root, t_process, reference):
    traced = reference is not None
    t_run = time.perf_counter()
    isolate(run_root, root)
    import checks
    import workloads as wl
    from pyspark.sql import SparkSession  # noqa: F401  (import cost is set-up)

    redirect_stream_scratch(run_root)
    w = wl.workloads()[workload]
    import_s = time.perf_counter() - t_process

    tables = ensure_tables(base)
    inputs = os.path.join(run_root, "inputs")
    w.make_inputs(inputs, seed)
    oracle = checks.Oracle(tables, checks.load_canon(root))
    oracle.prepare(op.oracle for op in w.ops)
    _log(f"{workload} seed {seed}: inputs ready after "
         f"{time.perf_counter() - t_run:.1f} s")

    # cold set-ups; the last one's session runs the pass
    session_s, warm_s = [], []
    for k in range(SETUPS):
        last = k == SETUPS - 1
        spark, s, wm = cold_setup(spark_conf(run_root, traced and last), tables)
        session_s.append(s)
        warm_s.append(wm)
        _log(f"set-up {k + 1}: session {s:.1f} s, warm {wm:.1f} s")
        if last:
            break
        teardown(spark)
        shutil.rmtree(os.path.join(run_root, "shm"))
        os.makedirs(os.path.join(run_root, "shm"))

    out = os.path.join(run_root, "out")
    ctx = wl.Context(spark, tables, inputs, out)
    if traced:
        p, metrics = traced_pass(ctx, w.ops, oracle, run_root)
        ref = reference[0]["metrics"]["wall_s"]["value"]
        metrics["setup.session_s"] = statistics.median(session_s)
        metrics["setup.warm_s"] = statistics.median(warm_s)
        metrics["trace.overhead_ratio"] = p.wall_s / ref
    else:
        p = timed_pass(w.ops, ctx, None, oracle)
        teardown(spark)
        metrics = {
            "setup_s": import_s + statistics.median(
                [a + b for a, b in zip(session_s, warm_s)]),
            "wall_s": p.wall_s,
            "op_geomean_s": geomean([s.wall_s for s in p.samples]),
        }
    _log(f"pass {p.wall_s:.1f} s")
    check_outputs(w.ops, ctx, p, oracle)
    oracle.close()

    failed = [f"{s.op}: {s.problem}" for s in p.samples if s.problem]
    result = {"correct": not failed, "attempted": len(p.samples),
              "failed": len(failed), "metrics": metrics}
    if traced:
        ref_result, ref_failed = reference
        result["correct"] = result["correct"] and ref_result["correct"]
        result["attempted"] += ref_result["attempted"]
        result["failed"] += ref_result["failed"]
        failed += ref_failed
    write_results(base, workload, seed, p, result)
    return result, failed


def traced_pass(ctx, ops, oracle, run_root: str):
    """The pass with spans, Py4J counting and module wrappers on, host
    canaries before and after it, and memory read at its end; then the
    event log of the session, parsed after it stops."""
    from pyspark import SparkContext

    tracer = Tracer()
    cpu, membw = host.cpu_canary(), host.membw_canary()
    count_py4j(tracer, SparkContext._gateway)
    wrap_modules(tracer, module_map(), package="powerdatapipeline_spark")
    p = timed_pass(ops, ctx, tracer, oracle)
    jvm = SparkContext._gateway.proc.pid
    metrics = {
        "host.cpu_canary_s": max(cpu, host.cpu_canary()),
        "host.membw_canary_s": max(membw, host.membw_canary()),
        "mem.jvm_peak_mb": host.peak_rss_mb(jvm),
        "mem.py_peak_mb": host.peak_rss_mb(os.getpid()) + sum(
            host.peak_rss_mb(pid) for pid in host.descendants(jvm)),
        "stream.scratch_left_kb": host.dir_kb(os.path.join(run_root, "shm")),
    }
    teardown(ctx.spark)
    log_dir = os.path.join(run_root, "eventlog")
    (name,) = os.listdir(log_dir)
    log = eventlog.read(os.path.join(log_dir, name))
    metrics.update(layer_metrics(tracer, log))
    return p, metrics


def write_results(base: str, workload: str, seed: int, p: Pass,
                  result: dict) -> None:
    """Per-op phase times of the pass, the traced pass's spans, and the
    result, as JSON under ``.perfbench/results``."""
    tracer = p.tracer
    op_spans = [sp for sp in tracer.spans
                if sp.name.startswith("op:")] if tracer else []
    ops = []
    for i, s in enumerate(p.samples):
        row = {"op": s.op, "build_s": s.build_s, "exec_s": s.exec_s,
               "problem": s.problem}
        if tracer:
            sp = op_spans[i]
            row["span_s"] = sp.duration
            row["split_err"] = abs(s.wall_s - sp.duration) / sp.duration
        ops.append(row)
    if tracer:
        worst = max(r["split_err"] for r in ops)
        _log(f"build + exec vs op span: worst gap {worst:.2%}")
    out = os.path.join(base, "results")
    os.makedirs(out, exist_ok=True)
    name = f"{workload}-seed{seed}-trace{int(tracer is not None)}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump({"workload": workload, "seed": seed, "result": result,
                   "wall_s": p.wall_s, "ops": ops,
                   "spans": tracer.to_json() if tracer else []}, f)
