"""Spans for the traced run, and readers for Spark's status stores.

Spans are recorded only from the benchmark's own files, around each call
into a layer of the program. They live in memory and are written out when
the run ends. Spark's stores (the core AppStatusStore for jobs and stages,
the SQL status store for per-operator metrics) answer through py4j with the
UI disabled; they are read only after the listener bus has drained.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. A span is (id, parent, run, name, start,
    end, attrs); spans of one task run or micro-batch share ``run``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, run: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "run": run if run is not None else (parent["run"] if parent else None),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict | None,
            run: str | None = None, **attrs) -> dict | None:
        """Record a span measured elsewhere (e.g. a streaming progress phase)."""
        if not self.enabled:
            return None
        s = {"id": next(self._ids), "parent": parent["id"] if parent else None,
             "run": run if run is not None else (parent["run"] if parent else None),
             "name": name, "start": start, "end": end, "attrs": dict(attrs)}
        self.spans.append(s)
        return s

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span its children
        cover (children of one span do not overlap: the driver is serial)."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            d = (s["end"] - s["start"]) - child_cover.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def coverage(self, parent_name: str, child_names) -> list[tuple[str, float]]:
        """For each span called ``parent_name``: (run, share of its wall time
        covered by its direct children named in ``child_names``)."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["name"] in child_names:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in self.spans:
            if s["name"] == parent_name:
                wall = s["end"] - s["start"]
                out.append((s["run"], kids.get(s["id"], 0.0) / wall if wall > 0 else 1.0))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# --------------------------------------------------------------------- #
# Spark status stores
# --------------------------------------------------------------------- #

PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                "PythonMapInArrow", "MapInArrow", "BatchEvalPython",
                "FlatMapCoGroupsInPandas", "WithState", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "ArrowAggregatePython")

PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_in",
    "data returned from Python workers": "python.bytes_out",
    "time to run Python workers": "python.time_ms",
    "time to start Python workers": "python.worker_start_ms",
    "time to initialize Python workers": "python.worker_start_ms",
}

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "ns": 1e-6}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: "1,234" for sums, or
    "total (min, med, max ...)\\n12.3 MiB (...)" for size/timing metrics
    (returned in bytes / milliseconds)."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1)


class SparkStores:
    """Reads jobs/stages from the core status store and per-operator SQL
    metrics from the SQL status store, for work done since ``mark()``."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.core = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = spark.sparkContext._jvm

    def drain(self, timeout_ms: int = 10_000) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self.jsc.listenerBus().waitUntilEmpty(timeout_ms)

    def mark(self) -> tuple[int, int]:
        self.drain()
        last_exec = -1
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            last_exec = max(last_exec, execs.apply(i).executionId())
        jobs = self.core.jobsList(None)
        last_job = -1
        for i in range(jobs.size()):
            last_job = max(last_job, jobs.apply(i).jobId())
        return last_exec, last_job

    def job_stats(self, since_job: int) -> dict:
        """Jobs, stages and task-level totals for jobs after ``since_job``."""
        self.drain()
        out = {"exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0, "exec.empty_tasks": 0,
               "exec.run_ms": 0.0, "exec.cpu_ms": 0.0, "exec.shuffle_read_bytes": 0.0,
               "exec.shuffle_write_bytes": 0.0, "exec.spill_bytes": 0.0,
               "exec.task_wait_ms": 0.0}
        jobs = self.core.jobsList(None)
        stage_ids = set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= since_job:
                continue
            out["exec.jobs"] += 1
            sids = j.stageIds()
            for k in range(sids.size()):
                stage_ids.add(int(sids.apply(k)))
        for sid in sorted(stage_ids):
            try:
                st = self.core.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted, no data
                continue
            if st.numCompleteTasks() == 0:
                continue
            out["exec.stages"] += 1
            out["exec.run_ms"] += st.executorRunTime()
            out["exec.cpu_ms"] += st.executorCpuTime() / 1e6
            out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tasks = self.core.taskList(sid, st.attemptId(), 100_000)
            for t in range(tasks.size()):
                td = tasks.apply(t)
                out["exec.tasks"] += 1
                m = td.taskMetrics()
                if m.isEmpty():
                    continue
                m = m.get()
                rows = (m.inputMetrics().recordsRead()
                        + m.shuffleReadMetrics().recordsRead())
                if rows == 0:
                    out["exec.empty_tasks"] += 1
                dur = td.duration().get() if not td.duration().isEmpty() else 0
                out["exec.task_wait_ms"] += max(
                    0, dur - m.executorRunTime() - m.executorDeserializeTime()
                    - m.resultSerializationTime() - td.gettingResultTime())
        return out

    def sql_stats(self, since_exec: int) -> dict:
        """Python-boundary metrics over SQL executions after ``since_exec``.
        Rows into a Python node are the output rows of the nearest node
        below it that counts them (an exchange or shuffle read between
        them does not)."""
        self.drain()
        out = {"python.rows_in": 0.0, "python.bytes_in": 0.0, "python.bytes_out": 0.0,
               "python.time_ms": 0.0, "python.worker_start_ms": 0.0}
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid <= since_exec:
                continue
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid)
            nodes = graph.allNodes()
            rows_out, python = {}, []
            for k in range(nodes.size()):
                node = nodes.apply(k)
                ms = node.metrics()
                for q in range(ms.size()):
                    met = ms.apply(q)
                    v = values.get(met.accumulatorId())
                    if v.isEmpty():
                        continue
                    val = parse_metric(v.get())
                    key = PYTHON_METRICS.get(met.name())
                    if met.name() == "number of output rows":
                        rows_out[node.id()] = val
                    elif key and any(p in node.name() for p in PYTHON_NODES):
                        out[key] += val
                if any(p in node.name() for p in PYTHON_NODES):
                    python.append(node.id())
            child = {}
            edges = graph.edges()
            for k in range(edges.size()):
                e = edges.apply(k)
                child.setdefault(e.toId(), e.fromId())
            for nid in python:
                nid = child.get(nid)
                while nid is not None and nid not in rows_out:
                    nid = child.get(nid)
                out["python.rows_in"] += rows_out.get(nid, 0.0)
        return out


def plan_python_metrics(plan) -> dict:
    """python.* summed over the Python nodes of an executed physical plan,
    read from the plan's SQLMetric accumulators on the driver. Streaming
    foreachBatch runs a micro-batch's stateful plan inside another SQL
    execution, so the SQL status store never attributes these metrics;
    read them from the query's last IncrementalExecution instead."""
    out = {k: 0.0 for k in ("python.rows_in", "python.bytes_in", "python.bytes_out",
                            "python.time_ms", "python.worker_start_ms")}

    def metrics(node) -> dict:
        ms, res = node.metrics(), {}
        it = ms.values().iterator()
        while it.hasNext():
            m = it.next()
            name = None if m.name().isEmpty() else m.name().get()
            v = float(m.value())
            res[name] = v / 1e6 if m.metricType() == "nsTiming" else v
        return res

    def rows_below(node) -> float:
        kids = node.children()
        for i in range(kids.size()):
            k = kids.apply(i)
            got = metrics(k).get("number of output rows")
            if got is not None:
                return got
            return rows_below(k)
        return 0.0

    todo = [plan]
    while todo:
        node = todo.pop()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if not any(p in node.nodeName() for p in PYTHON_NODES):
            continue
        for name, v in metrics(node).items():
            if name in PYTHON_METRICS:
                out[PYTHON_METRICS[name]] += v
        out["python.rows_in"] += rows_below(node)
    return out


def plan_phases(df) -> dict:
    """Force the DataFrame's planning and read the QueryExecution tracker:
    analysis / optimization / planning milliseconds and the physical
    operator count."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        p = phases.get(ph)
        out[f"plan.{ph}_ms"] = 0.0 if p.isEmpty() else float(
            p.get().endTimeMs() - p.get().startTimeMs())
    out["plan.operators"] = sum(
        1 for line in plan.treeString().splitlines() if line.strip())
    return out
