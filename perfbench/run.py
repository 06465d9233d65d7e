"""Benchmark for kapacitor_spark: live TICK stream tasks and batch TICK
tasks, each with end-to-end and per-layer metrics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_tasks --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separately traced run. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The line before it
holds the run's context (box, probes, every workload-specific number).

End-to-end metrics every workload reports (their meaning per workload):

    setup_s           the run's cold set-up until the workload's first
                      result: import kapacitor_spark, start local[N] in a
                      new JVM, get a result through a Python worker that
                      imports the package, then stream_tasks: compile both
                      TICK tasks, start their queries and emit each one's
                      first micro-batch; batch_tasks: build and collect the
                      first task (tickscript_e2e)
    throughput_per_s  stream_tasks: points/s through both tasks over a drain
                      backlog, median of three backlogs; batch_tasks:
                      completed tasks/s
    latency_p50_s     stream_tasks: alert task, from a point's due time to
                      the emission of the micro-batch that evaluated it;
                      batch_tasks: median task latency

The workload-specific numbers (window-task latency, the highest percentile
with ten samples beyond it, per-task medians, generator lateness) are in
the context line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import warnings
from contextlib import contextmanager

WORKLOADS = ("stream_tasks", "batch_tasks")
DRIVER_MEM = "2g"

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s"}

# Every workload prints every layer metric; a layer a workload does not
# use reads 0 (streaming.* on batch_tasks, sink.* on stream_tasks).
_STREAM = {"batches": "count", "points_per_batch": "count", "addBatch_ms": "ms",
           "queryPlanning_ms": "ms", "walCommit_ms": "ms", "commitOffsets_ms": "ms",
           "latestOffset_ms": "ms", "triggerExecution_ms": "ms",
           "state_rows_total": "count", "state_rows_updated": "count",
           "state_memory_bytes": "B", "state_commit_ms": "ms", "queue_wait_ms": "ms"}
PER_LAYER = {
    "session.start_s": "s", "session.worker_import_s": "s",
    "tick.compile_s": "s", "tick.dot_s": "s", "pipeline.build_s": "s",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "plan.operators": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.empty_tasks": "count", "exec.empty_task_ratio": "ratio",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.shuffle_read_bytes": "B",
    "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B", "exec.task_wait_ms": "ms",
    "python.rows_in": "count", "python.bytes_in": "B", "python.bytes_out": "B",
    "python.time_ms": "ms", "python.worker_start_ms": "ms",
    **{f"streaming.{t}.{k}": u for t in ("alert", "window") for k, u in _STREAM.items()},
    "sources.lp_parse_pts_per_s": "1/s", "sources.lp_slow_rows": "count",
    "sources.lp_slow_ratio": "ratio",
    "dataprep.decontamination_s": "s",
    "sink.collect_s": "s", "sink.rows": "count",
    "mem.peak_rss_mb": "MB",
    "gen.late_p99_ms": "ms",
    "trace.uncovered_share": "ratio",
}


def cores() -> int:
    """local[N]: at most 4 threads and never more than the box has."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def confine(work: str) -> dict:
    """Point every scratch location Spark, PySpark and Python use into the
    run's work directory; returns the extra Spark conf for get_spark."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(conf: dict) -> tuple:
    """Cold session start: import, local[N] in a new JVM, a first result
    through a Python worker that imports the package. Returns (spark,
    start_s, worker_import_s)."""
    t0 = time.perf_counter()
    from kapacitor_spark import get_spark
    from kapacitor_spark.session import ensure_worker_imports

    spark = get_spark("perfbench", shuffle_partitions=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    ensure_worker_imports(spark)

    def first(batches):
        import kapacitor_spark.durations  # noqa: F401  (worker-side import)

        yield from batches

    got = spark.range(0, 1000, 1, 1).mapInPandas(first, "id long").selectExpr(
        "sum(id) AS s").collect()[0]["s"]
    if got != 499500:
        raise RuntimeError(f"set-up probe returned {got}")
    return spark, t1 - t0, time.perf_counter() - t1


def stop_spark(spark, jvm) -> None:
    """Stop the session, then end the driver JVM and wait until it and the
    Python workers it forked have exited."""
    import measure

    tree = measure.process_tree(jvm.pid)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in tree) and time.time() < deadline:
        time.sleep(0.1)


class Ctx:
    """What a workload's ``run(ctx)`` gets: the session, the run's
    arguments, its work directory, the tracer and the status stores."""

    def __init__(self, args, work, spark, tracer, stores):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.work = work
        self.spark = spark
        self.tracer = tracer
        self.stores = stores
        self.n_cores = cores()
        self.phases: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        """Wall seconds of one phase of the run, reported as context."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


def main(argv=None) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "kapacitor_spark", "__init__.py"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of a kapacitor_spark checkout "
              "(kapacitor_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    warnings.filterwarnings("ignore", category=FutureWarning)

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work, t_main)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, t_main: float) -> int:
    import measure
    from spans import SparkStores, Tracer

    conf = confine(work)
    t0 = time.perf_counter()
    spark, start_s, worker_s = start_session(conf)
    session_s = time.perf_counter() - t0

    tracer = Tracer(bool(args.trace))
    ctx = Ctx(args, work, spark, tracer, SparkStores(spark))
    ctx.phases["session"] = session_s
    import wl_batch
    import wl_stream

    mod = {"stream_tasks": wl_stream, "batch_tasks": wl_batch}[args.workload]
    jvm = spark.sparkContext._gateway.proc
    try:
        with measure.RssSampler(jvm.pid) as rss:
            res = mod.run(ctx)
        # after the workload, so they do not warm the JVM before its first
        # result; context only: no metric is divided by a probe
        with ctx.phase("probes"):
            context = {
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "nproc": os.cpu_count(),
                "affinity": len(os.sched_getaffinity(0)), "local_n": ctx.n_cores,
                "cpu_probe_s": measure.cpu_probe(spark, ctx.n_cores),
                "io_probe_s": measure.io_probe(work),
            }
    finally:
        with ctx.phase("stop"):
            stop_spark(spark, jvm)

    setup_s = session_s + res["first_result_s"]
    e2e = dict(res["e2e"], setup_s=setup_s)
    layer = dict(res["layer"])
    layer["mem.peak_rss_mb"] = rss.peak_mb
    layer["session.start_s"] = start_s
    layer["session.worker_import_s"] = worker_s
    if layer.get("exec.tasks"):
        layer["exec.empty_task_ratio"] = layer["exec.empty_tasks"] / layer["exec.tasks"]
    unknown = (set(e2e) - set(END_TO_END)) | (set(layer) - set(PER_LAYER))
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    context.update(detail=res["detail"], checks=res["checks"], e2e=e2e, phase_s=ctx.phases,
                   first_result_s=res["first_result_s"], peak_rss=rss.peak_parts)
    if args.trace:
        out_dir = os.path.join(os.path.dirname(work), "spans")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"))
        context["self_time_s"] = tracer.self_times()
    context["run_wall_s"] = time.perf_counter() - t_main
    print(json.dumps({"context": context}, default=str))

    failed = sum(1 for c in res["checks"] if not c["ok"])
    table, values = (PER_LAYER, layer) if args.trace else (END_TO_END, e2e)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": int(failed),
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in table.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
