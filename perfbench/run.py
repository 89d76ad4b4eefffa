"""spark-graft benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root.  The workloads are described in
``workloads.py``; ``BENCHMARK.json`` lists them and the metrics.

A run is one driver process, as a ``spark-submit`` of the pipeline
would be.  It starts one SparkSession on ``local[SPARK_GRAFT_CPUS]``
(default: the CPUs this process may use) and sets up: session start,
input loads, for the query workload the memoized hub build, and one
warm-up pass.  That is ``setup_s``.  The first pass in a fresh JVM pays
the JIT and code-generation warm-up: it takes about twice as long as a
later one, and since the JIT compiles on the cores the work needs, it
slows down far more than a warm pass when the host is busy.  The run
then measures passes until ``--seconds`` have elapsed, and at least
one pipeline pass or three query passes: the JIT is still compiling
then, so the first measured query pass is often the slowest, and the
median of three leaves it out.  Outputs are checked,
untimed: each query's collected result against its DuckDB oracle twin
on every pass, the warm-up pass included, and the pipeline's chain
invariants on every measured pass.  The last line on stdout is one
JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

End-to-end metrics: ``setup_s``; ``pass_s``, the wall time of one
measured pass (output checks excluded), median over the run's measured
passes; ``query_geomean_s``, the geometric mean over the pass's
operations (the queries, or the 8 pipeline stages) of each one's median
construct + execute time.

The high-water resident set (VmHWM of the Python driver plus the driver
JVM) is per-layer, ``peak_rss_mb``: with the program's 8g heap ceiling
the JVM grows its heap when the collector decides to, and the peak
differed by a third of its median between runs of the same code (3.1 to
4.5 GB over six seeds on a 4-vCPU host), more than an end-to-end bound
may allow.

With ``--trace 0`` the metrics are the end-to-end ones.  With
``--trace 1`` the same run is traced and the metrics are the per-layer
ones; the tracing overhead is this run's ``trace.pass_s`` minus the
untraced ``pass_s``.  The span tree is written to
``.perfbench/trace-<workload>-seed<seed>.json``.  Every file a run
writes stays inside the checkout, under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("queries_sf0.001", "pipeline")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
}

# Per-layer metrics of a traced pass: sums over its operations, except
# the ratios, the stage times and the agg figures.  A layer the workload
# does not run reads 0 on it.
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "ext.hub_build_s": "s",
    "queries.construct_s": "s",  # building the DataFrames, before the action
    "queries.py4j_calls": "count",  # py4j call commands sent while constructing
    "queries.construct_jobs": "count",  # Spark jobs started while constructing
    "catalyst.analysis_ms": "ms",  # each action's QueryExecution
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",  # every job an operation starts; stages and tasks skip reused stages
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_wall_s": "s",  # union of the action's job intervals
    "exec.driver_gap_s": "s",  # operation wall - construct - job wall
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.busy_frac": "ratio",  # task run time / (job wall x parallelism)
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.task_skew": "ratio",  # worst stage's max / median task run time
    "exec.reused_exchanges": "count",  # ReusedExchange nodes in final plans
    "exec.failed_tasks": "count",
    "ext.python_nodes": "count",  # Python-worker operators in final plans
    "ext.python_rows": "count",
    "ext.python_bytes": "bytes",
    "jobs.filter_s": "s",
    "jobs.users_items_s": "s",
    "jobs.users_items_update_s": "s",
    "jobs.features_s": "s",
    "jobs.data_mart_s": "s",
    "jobs.dashboard_s": "s",
    "jobs.bytes_written": "bytes",  # data files the chain wrote
    "jobs.files_written": "count",
    "ml.train_s": "s",  # mlproject: fit and save
    "ml.train_jobs": "count",
    "streaming.batches": "count",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",  # offset log plus commit log writes
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "agg_events_per_s": "1/s",  # input rows / drain time
    "agg_batch_p50_ms": "ms",  # micro-batch triggerExecution
    "agg_batch_p90_ms": "ms",
    "failed_frac": "ratio",
    "peak_rss_mb": "MB",  # VmHWM, Python driver + driver JVM
    "warmup_s": "s",  # the warm-up pass, part of setup_s
    "trace.pass_s": "s",  # this traced pass; minus untraced pass_s = overhead
}


@dataclass
class Context:
    seed: int
    sf_dir: str  # the input tables
    work_dir: str
    cache_dir: str  # kept between runs in a checkout


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(ctx: Context):
    from scala_data_pipeline_spark.session import get_session

    tmp = os.path.join(ctx.work_dir, "tmp")
    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(ctx.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(ctx.work_dir, "warehouse"),
            # The program's own option points Derby at the system temp
            # directory; keep it, and the JVM's temp files, in the checkout.
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={tmp} -Djava.io.tmpdir={tmp}"
            ),
            # Keep every job, stage and SQL execution of a pass readable
            # from the status stores, and every micro-batch's progress.
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "20000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


def end_to_end(setup: dict, passes) -> dict[str, float]:
    per_op = defaultdict(list)
    for p in passes:
        for op in p.ops:
            per_op[op.name].append(op.seconds)
    return {
        "setup_s": sum(setup.values()),
        "pass_s": statistics.median(p.seconds for p in passes),
        "query_geomean_s": geomean([statistics.median(v) for v in per_op.values()]),
    }


def layer_metrics(workload, p, tracer, listener, counter_calls: int) -> dict[str, float]:
    """Per-layer sums for one traced pass, read from the status stores
    after the pass; job spans are added to the trace."""
    from tracing import read_jobs, read_sql_executions, union_length

    spark = workload.spark
    sc = spark.sparkContext
    status = sc.statusTracker()
    m: dict[str, float] = defaultdict(float)
    m["queries.py4j_calls"] = counter_calls
    sql = read_sql_executions(spark, since=p.span.start)
    skew = 1.0
    all_job_intervals = []
    for op in p.ops:
        m["queries.construct_s"] += op.construct.duration
        x_groups = [op.groups[1], *op.extra_job_groups]
        jobs_c = read_jobs(sc, sorted(status.getJobIdsForGroup(op.groups[0])))
        jobs_x = read_jobs(sc, sorted(j for g in x_groups for j in status.getJobIdsForGroup(g)))
        for parent, jobs in ((op.construct, jobs_c), (op.execute, jobs_x)):
            for j in jobs:
                tracer.add(f"job{j.job_id}", "exec", j.start, j.end, parent)
        x_intervals = [
            (max(j.start, op.execute.start), min(j.end, op.execute.end))
            for j in jobs_x
        ]
        job_wall = union_length([iv for iv in x_intervals if iv[1] > iv[0]])
        m["queries.construct_jobs"] += len(jobs_c)
        m["exec.job_wall_s"] += job_wall
        m["exec.driver_gap_s"] += op.seconds - op.construct.duration - job_wall
        for j in jobs_c + jobs_x:
            all_job_intervals.append((j.start, j.end))
            m["exec.jobs"] += 1
            for st in j.stages:
                m["exec.stages"] += 1
                m["exec.tasks"] += st["tasks"]
                m["exec.failed_tasks"] += st["failed_tasks"]
                m["exec.run_s"] += st["run_ms"] / 1e3
                m["exec.cpu_s"] += st["cpu_ns"] / 1e9
                m["exec.gc_s"] += st["gc_ms"] / 1e3
                m["exec.shuffle_write_bytes"] += st["shuffle_write_bytes"]
                m["exec.shuffle_read_bytes"] += st["shuffle_read_bytes"]
                m["exec.spill_bytes"] += st["spill_bytes"]
                m["exec.input_bytes"] += st["input_bytes"]
                skew = max(skew, st["skew"])
        lo, hi = op.span.start, op.span.end
        for rec in sql:
            if lo <= rec.start <= hi:
                m["exec.reused_exchanges"] += rec.reused_exchanges
                m["ext.python_nodes"] += rec.python_nodes
                m["ext.python_rows"] += rec.python_rows
                m["ext.python_bytes"] += rec.python_bytes
        for start_ms, phases in listener.records:
            if lo * 1e3 <= start_ms <= hi * 1e3:
                m["catalyst.analysis_ms"] += phases.get("analysis", 0)
                m["catalyst.optimization_ms"] += phases.get("optimization", 0)
                m["catalyst.planning_ms"] += phases.get("planning", 0)
        if op.name in ("filter", "users_items", "features", "data_mart", "dashboard"):
            m[f"jobs.{op.name}_s"] = op.seconds
        elif op.name == "users_items_update":
            m["jobs.users_items_update_s"] = op.seconds
        elif op.name == "mlproject":
            m["ml.train_s"] = op.seconds
            m["ml.train_jobs"] = len(jobs_c) + len(jobs_x)
        elif op.name == "agg":
            m.update(streaming_metrics(p.agg_progress, op.execute.duration))
    m["exec.task_skew"] = skew
    cover = union_length(all_job_intervals)
    m["exec.busy_frac"] = m["exec.run_s"] / (cover * sc.defaultParallelism) if cover else 0.0
    m["jobs.bytes_written"], m["jobs.files_written"] = p.written
    return m


def streaming_metrics(progress: list[dict], drain_s: float) -> dict[str, float]:
    durations = [b["durationMs"] for b in progress]
    rows = sum(b["numInputRows"] for b in progress)
    trigger = [d.get("triggerExecution", 0) for d in durations]
    state = progress[-1]["stateOperators"][0] if progress[-1]["stateOperators"] else {}
    return {
        "streaming.batches": len(progress),
        "streaming.planning_ms": sum(d.get("queryPlanning", 0) for d in durations),
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in durations),
        "streaming.commit_ms": sum(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in durations
        ),
        "streaming.state_rows": state.get("numRowsTotal", 0),
        "streaming.state_bytes": state.get("memoryUsedBytes", 0),
        "agg_events_per_s": rows / drain_s,
        "agg_batch_p50_ms": statistics.median(trigger),
        "agg_batch_p90_ms": percentile(trigger, 0.9),
    }


def make_workload(name: str, ctx: Context):
    from workloads import PipelineWorkload, QueriesWorkload

    if name == "pipeline":
        return PipelineWorkload(ctx)
    return QueriesWorkload(ctx)


def collect_garbage(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(args, ctx: Context) -> dict:
    from tracing import PhaseListener, Py4JCallCounter, Tracer, wait_for_listeners

    traced = bool(args.trace)
    workload = make_workload(args.workload, ctx)
    workload.prepare()
    # The first run in a checkout computes the DuckDB oracle results in
    # this process; their memory is not the program's, so peak RSS
    # counts from here.
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")
    tracer = Tracer(enabled=traced)
    try:
        with tracer.span(args.workload, "workload"):
            setup = workload.setup(tracer, lambda: start_session(ctx))
            spark = workload.spark
            collect_garbage(spark)
            # Warm-up: one untraced pass in the fresh JVM; its time is
            # part of set-up, so work moved out of a pass shows there.
            setup["warmup"] = workload.run_pass(tracer, 1, False).seconds
            print("setup " + ", ".join(f"{k} {v:.2f}" for k, v in setup.items()), file=sys.stderr)
            collect_garbage(spark)
            if traced:
                from pyspark.java_gateway import ensure_callback_server_started

                ensure_callback_server_started(spark.sparkContext._gateway)
                listener = PhaseListener(spark.sparkContext._jvm)
                spark._jsparkSession.listenerManager().register(listener)
                workload.counter = Py4JCallCounter(spark.sparkContext._gateway._gateway_client)
                workload.counter.install()
            passes, layers = [], []
            started = time.perf_counter()
            while True:
                if traced:
                    workload.counter.calls = 0
                p = workload.run_pass(tracer, len(passes) + 2, traced)
                if traced:
                    wait_for_listeners(spark.sparkContext)
                    layers.append(layer_metrics(
                        workload, p, tracer, listener, workload.counter.calls))
                checked = time.perf_counter()
                workload.check(p)
                checked = time.perf_counter() - checked
                passes.append(p)
                print(f"pass {p.index}: {p.seconds:.2f} s (check {checked:.2f} s); " + ", ".join(
                    f"{op.name} {op.seconds:.2f}" for op in p.ops), file=sys.stderr)
                collect_garbage(spark)
                if (len(passes) >= workload.min_passes
                        and time.perf_counter() - started >= args.seconds):
                    break
            jvm_pid = spark.sparkContext._gateway.proc.pid
            rss_py, rss_jvm = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
            rss = rss_py + rss_jvm
            print(f"peak rss: python {rss_py:.0f} MB, jvm {rss_jvm:.0f} MB", file=sys.stderr)
    finally:
        if workload.counter:
            workload.counter.uninstall()
        stop_spark(workload.spark)

    failed = len(workload.failures)
    result_metrics = end_to_end(setup, passes)
    if traced:
        metrics = {k: statistics.median(l[k] for l in layers) for k in PER_LAYER if k not in (
            "session.start_s", "sources.load_s", "ext.hub_build_s",
            "failed_frac", "peak_rss_mb", "warmup_s", "trace.pass_s")}
        metrics.update({
            "session.start_s": setup["session"],
            "sources.load_s": setup["sources"],
            "ext.hub_build_s": setup["hubs"],
            "warmup_s": setup["warmup"],
            "failed_frac": failed / workload.attempted,
            "peak_rss_mb": rss,
            "trace.pass_s": result_metrics["pass_s"],
        })
        trace_path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path, per_pass=layers, end_to_end=result_metrics, setup=setup)
        units = PER_LAYER
    else:
        metrics, units = result_metrics, END_TO_END
    for line in workload.failures:
        print(f"FAILED {line}")
    return {
        "correct": failed == 0,
        "attempted": workload.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "scala_data_pipeline_spark")):
        print("perfbench: scala_data_pipeline_spark/ not found next to perfbench/;"
              " run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    # No JVM (launcher or driver) writes hsperfdata or temp files
    # outside the checkout.
    tmp = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    ctx = Context(args.seed, os.path.join(HERE, "data", "sf0.001"), work,
                  os.path.join(ROOT, ".perfbench"))
    try:
        result = run(args, ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
