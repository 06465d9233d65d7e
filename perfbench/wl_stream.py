"""``stream_tasks``: two live TICK stream tasks on one line-protocol spool.

Open loop: the generator process (``gen.py spool``) writes a file of
points every ``INTERVAL`` seconds at ``RATE`` points/s whether or not the
tasks keep up; every point is timed from when its file was due. Then a
drain phase: ``DRAIN_ROUNDS`` times, a backlog of ``BACKLOG`` points is
published at once and processed as fast as the tasks can.

Both tasks subscribe to the same spool through ``subscribe_stream`` ->
``promote`` -> ``run_tickscript_stream`` and run at the same time:

* alert task: ``groupBy(user_id)|window().periodCount(5)|max|alert()
  .stateChangesOnly().durationField()``, keyed Python state over 1,500
  user keys (the Python keyed-state boundary);
* window task: ``groupBy(event_type)|window(1h)|mean``, JVM state (the
  per-micro-batch engine overhead).

Each task's sink is ``foreachBatch``; a batch's output is emitted when its
rows have reached the driver. Outputs are checked against the batch
oracle SQL of ``tick_stream_count_alert`` / ``tick_stream_window``.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time

import gen
import measure

RATE = 100.0          # offered points/s: the backlog stays bounded at this rate
INTERVAL = 0.1        # generator write period, s
WARMUP = 1_000        # points published before timing (first batches, codegen)
BACKLOG = 8_000       # points per drain round
DRAIN_ROUNDS = 3      # the drain rate is the median over the rounds
CATCHUP_TIMEOUT = 90.0

ALERT_SCRIPT = """
stream
    |from()
        .measurement('events')
        .groupBy('user_id')
    |window()
        .periodCount(5)
        .everyCount(1)
    |max('value')
        .as('mx')
    |alert()
        .crit(lambda: "mx" > 240)
        .warn(lambda: "mx" > 180)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('alerts')
"""

WINDOW_SCRIPT = """
stream
    |from()
        .measurement('events')
        .where(lambda: "value" > 0)
        .groupBy('event_type')
    |window()
        .period(1h)
        .every(1h)
    |mean('value')
        .as('mean_value')
    |httpOut('win')
"""


class BatchSink:
    """foreachBatch target: collects each micro-batch's rows to the driver
    and records when they arrived (the emission time). When tracing, also
    reads the batch's Python-worker metrics from its executed plan."""

    def __init__(self, trace: bool):
        self.lock = threading.Lock()
        self.rows: list = []
        self.emit: dict[int, float] = {}
        self.trace = trace
        self.query = None
        self.python: dict[str, float] = {}

    def __call__(self, df, batch_id: int) -> None:
        pdf = df.toPandas()
        t = time.time()
        with self.lock:
            pdf["__batch"] = batch_id
            self.rows.append(pdf)
            self.emit[batch_id] = t
        if self.trace:
            from spans import plan_python_metrics

            plan = self.query._jsq.streamingQuery().lastExecution().executedPlan()
            for k, v in plan_python_metrics(plan).items():
                self.python[k] = self.python.get(k, 0.0) + v


def source_log(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


class Task:
    def __init__(self, ctx, name: str, script: str, out: str, mode: str, spool: str):
        from kapacitor_spark.sources.line_protocol import promote, subscribe_stream
        from kapacitor_spark.tick import run_tickscript_stream

        self.name = name
        self.ckpt = os.path.join(ctx.work, f"ckpt_{name}")
        self.sink = BatchSink(ctx.trace)
        with ctx.tracer.span("tick.compile", run=f"start:{name}"):
            points = promote(
                subscribe_stream(ctx.spark, spool), "events",
                float_fields=["value"], int_fields=["event_id"],
                tag_cols=["user_id", "event_type"],
            )
            self.df = run_tickscript_stream(
                script, sources={"events": points}, time_col="time",
                tiebreak=("event_id",))[out]
        with ctx.tracer.span("stream.start", run=f"start:{name}"):
            self.q = (self.df.writeStream.foreachBatch(self.sink)
                      .outputMode(mode).queryName(name)
                      .option("checkpointLocation", self.ckpt).start())
        self.sink.query = self.q

    def consumed(self) -> dict[str, int]:
        return source_log(self.ckpt)

    def wait_for(self, files: set, timeout: float) -> None:
        """Block until every file in ``files`` was read by a batch whose
        output has been emitted."""
        deadline = time.time() + timeout
        while True:
            if self.q.exception() is not None:
                raise RuntimeError(f"{self.name}: {self.q.exception()}")
            log = self.consumed()
            with self.sink.lock:
                emitted = set(self.sink.emit)
            if all(f in log and log[f] in emitted for f in files):
                return
            if time.time() > deadline:
                raise TimeoutError(f"{self.name} did not catch up")
            time.sleep(0.02)

    def progress(self) -> list[dict]:
        return [json.loads(p.json) for p in self.q.recentProgress]


def _publish(spool: str, ev, first: int, n: int, name: str) -> str:
    """Publish points as ONE file, so a single rename makes all of them
    visible at once (several files could straddle two micro-batches);
    Spark still splits the file across the cores."""
    gen.write_spool_file(spool, name, gen.lp_lines(ev.iloc[first:first + n]))
    return name


def run(ctx) -> dict:
    ev = gen.events(ctx.seed)
    spool = os.path.join(ctx.work, "spool")
    os.makedirs(spool, exist_ok=True)
    n_live = int(RATE * ctx.seconds)
    n_total = WARMUP + n_live + DRAIN_ROUNDS * BACKLOG
    if n_total > len(ev):
        raise ValueError("--seconds too long for the generated event table")

    mark = ctx.stores.mark() if ctx.trace else None  # (last SQL execution, last job)
    t_start = time.perf_counter()
    alert = Task(ctx, "alert", ALERT_SCRIPT, "alerts", "append", spool)
    window = Task(ctx, "window", WINDOW_SCRIPT, "win", "update", spool)
    tasks = (alert, window)
    # warm-up: first micro-batches pay planning, codegen and worker start
    warm = _publish(spool, ev, 0, WARMUP, "warm.lp")
    for t in tasks:
        t.wait_for({warm}, CATCHUP_TIMEOUT)
    warmup_s = time.perf_counter() - t_start
    ctx.phases["warmup"] = warmup_s

    # open loop
    log_path = os.path.join(ctx.work, "gen_log.json")
    start = time.time() + 0.5
    genp = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "spool",
         "--seed", str(ctx.seed), "--spool", spool, "--log", log_path,
         "--first", str(WARMUP), "--n", str(n_live), "--rate", str(RATE),
         "--interval", str(INTERVAL), "--start", repr(start)])
    try:
        rc = genp.wait(timeout=ctx.seconds + 60)
    finally:
        if genp.poll() is None:
            genp.kill()
            genp.wait()
    if rc != 0:
        raise RuntimeError(f"generator exited {rc}")
    with open(log_path) as fh:
        schedule = [tuple(r) for r in json.load(fh)]
    live = {r[0] for r in schedule}
    with ctx.phase("catchup"):
        for t in tasks:
            t.wait_for(live, CATCHUP_TIMEOUT)

    # drain: fixed backlogs, each published at once after the last is done
    rates = []
    with ctx.phase("drain"):
        for i in range(DRAIN_ROUNDS):
            t_b = time.time()
            back = _publish(spool, ev, WARMUP + n_live + i * BACKLOG, BACKLOG, f"back{i}.lp")
            done = []
            for t in tasks:
                t.wait_for({back}, CATCHUP_TIMEOUT)
                done.append(t.sink.emit[t.consumed()[back]])
            rates.append(BACKLOG / (max(done) - t_b))
    drain = measure.median(rates)
    for t in tasks:
        t.q.stop()

    # output checks over every streamed point
    streamed = ev.iloc[:n_total]
    with ctx.phase("checks"):
        results = _check_outputs(ctx, streamed, alert, window)
    lat = {}
    for t in tasks:
        xs, missing = measure.point_latencies(schedule, t.consumed(), t.sink.emit)
        results.append({"op": f"{t.name}:latency", "ok": missing == 0,
                        "detail": f"{len(xs)} points timed, {missing} never emitted"})
        lat[t.name] = xs
    n_batches = sum(len(t.sink.emit) for t in tasks)

    a, w = lat["alert"], lat["window"]
    late = measure.generator_lateness(schedule)
    detail = {
        # backlog over time: (input rows, triggerExecution ms) per alert-task
        # batch; the hybrid parser reads the source twice, so rows = 2 x points
        "alert_batches": [(p["numInputRows"], p["durationMs"].get("triggerExecution"))
                          for p in alert.progress() if p.get("numInputRows")],
        "offered_rate_pts_per_s": RATE, "open_loop_s": ctx.seconds,
        "warmup_s": warmup_s, "drain_pts_per_s": drain, "drain_round_pts_per_s": rates,
        "drain_backlog_pts": BACKLOG, "gen_late_p99_ms": 1000 * measure.percentile(late, 99),
    }
    for name, xs in (("alert", a), ("window", w)):
        p = measure.tail_percentile(len(xs), 99.0)
        detail[f"{name}_latency_p50_s"] = measure.median(xs)
        detail[f"{name}_latency_p{p:g}_s"] = measure.percentile(xs, p)
        detail[f"{name}_latency_samples"] = len(xs)
    e2e = {"throughput_per_s": drain, "latency_p50_s": measure.median(a)}
    layer = {"gen.late_p99_ms": detail["gen_late_p99_ms"]}
    cover = {}
    for t in tasks:
        lay, cover[t.name] = _progress_layers(ctx, t, schedule)
        layer.update(lay)
    if ctx.trace:
        from kapacitor_spark.tick import task_dot

        t0 = time.perf_counter()
        for script in (ALERT_SCRIPT, WINDOW_SCRIPT):
            task_dot(script)
        layer["tick.dot_s"] = time.perf_counter() - t0
        layer["tick.compile_s"] = sum(
            s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == "tick.compile")
        # executor and Python-worker totals per micro-batch, both tasks
        totals = ctx.stores.job_stats(mark[1])
        for t in tasks:
            for k, v in t.sink.python.items():
                totals[k] = totals.get(k, 0.0) + v
        layer.update({k: v / n_batches for k, v in totals.items()})
        layer.update(_parse_layer(ctx, spool))
        layer["trace.uncovered_share"] = 1.0 - min(cover.values())
        detail["progress_phase_coverage"] = cover
    return {"e2e": e2e, "layer": layer, "detail": detail, "checks": results,
            "attempted": n_batches + len(results), "first_result_s": warmup_s}


def _check_outputs(ctx, streamed, alert, window) -> list[dict]:
    import pandas as pd

    import __spark_entry__ as entry
    import checks

    oracles = entry.oracle_sql()
    oracle = checks.Oracle({"events": streamed}, ctx.work)
    out = []
    got = pd.concat(alert.sink.rows, ignore_index=True).drop(columns="__batch")
    got = got.rename(columns={"time": "ts"})[["ts", "user_id", "mx", "level", "dur"]]
    got["user_id"] = got["user_id"].astype("int64")
    ok, d = checks.same_rows(got, oracle.rows(oracles["tick_stream_count_alert"]))
    out.append({"op": "alert:output", "ok": ok, "detail": d})

    upd = pd.concat(window.sink.rows, ignore_index=True).rename(columns={"time": "ts"})
    # update mode: a window's final value is its row from the latest batch
    last = (upd.sort_values("__batch").groupby(["ts", "event_type"], as_index=False).last())
    last = last[["ts", "event_type", "mean_value"]]
    # window means are float sums merged across micro-batches in arrival
    # order, so they may differ from DuckDB's one-pass avg in the last bits
    ok, d = checks.same_rows(last, oracle.rows(oracles["tick_stream_window"]),
                             float_rtol=1e-12, keys=("ts", "event_type"))
    out.append({"op": "window:output", "ok": ok, "detail": d})
    return out


PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
          "triggerExecution")


def _progress_layers(ctx, t: Task, schedule) -> tuple[dict, float]:
    """streaming.<task>.* from recentProgress over the batches that read
    data (means per batch), and the smallest share of triggerExecution
    that a batch's phases cover. In a traced run each batch becomes a
    span with its phases as children."""
    prog = [p for p in t.progress() if p.get("numInputRows", 0) > 0]
    n = max(1, len(prog))
    pre = f"streaming.{t.name}."
    out = {pre + "batches": len(prog)}
    for ph in PHASES:
        out[pre + ph + "_ms"] = sum(p["durationMs"].get(ph, 0) for p in prog) / n
    log = t.consumed()
    pts = {}
    for name, _due, _w, _f, k in schedule:
        if name in log:
            pts[log[name]] = pts.get(log[name], 0) + k
    out[pre + "points_per_batch"] = sum(pts.values()) / max(1, len(pts))
    ops = [o for p in prog for o in p.get("stateOperators", [])]
    last = prog[-1].get("stateOperators", []) if prog else []
    out[pre + "state_rows_total"] = sum(o.get("numRowsTotal", 0) for o in last)
    out[pre + "state_rows_updated"] = sum(o.get("numRowsUpdated", 0) for o in ops) / n
    out[pre + "state_memory_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in last)
    out[pre + "state_commit_ms"] = sum(o.get("commitTimeMs", 0) for o in ops) / n
    starts = {p["batchId"]: _epoch(p["timestamp"]) for p in prog}
    waits = measure.queue_waits(schedule, log, starts)
    out[pre + "queue_wait_ms"] = 1000 * sum(waits.values()) / max(1, len(waits))
    cover = min((sum(p["durationMs"].get(ph, 0) for ph in PHASES[:-1])
                 / p["durationMs"]["triggerExecution"]
                 for p in prog if p["durationMs"].get("triggerExecution")), default=1.0)
    # progress times are wall-clock; spans use perf_counter
    shift = time.perf_counter() - time.time()
    for p in prog:
        t0 = starts[p["batchId"]] + shift
        d = p["durationMs"]
        mb = ctx.tracer.add("micro-batch", t0, t0 + d["triggerExecution"] / 1000, None,
                            run=f"{t.name}:{p['batchId']}")
        at = t0
        for ph in PHASES[:-1]:
            if ph in d:
                ctx.tracer.add(ph, at, at + d[ph] / 1000, mb)
                at += d[ph] / 1000
    return out, cover


def _epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _parse_layer(ctx, spool: str) -> dict:
    """sources.*: parse_lines over a static copy of the spool. The lines
    that took the Python parser are the rows into its Python node."""
    from kapacitor_spark.sources.line_protocol import parse_lines

    raw = ctx.spark.read.text(spool)
    lines = raw.count()
    mark = ctx.stores.mark()
    t0 = time.perf_counter()
    parse_lines(raw).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    slow = ctx.stores.sql_stats(mark[0])["python.rows_in"]
    return {"sources.lp_parse_pts_per_s": lines / dt, "sources.lp_slow_rows": slow,
            "sources.lp_slow_ratio": slow / max(1, lines)}
