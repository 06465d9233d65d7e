"""``batch_tasks``: the Kapacitor-shaped batch rows of ``__spark_entry__``,
plus ``decontamination`` as the one dataprep row.

Closed loop, one client: cycles through the eleven tasks in a seeded
order until ``--seconds`` have passed (whole cycles only, so every task
weighs the same). Each task run clears Spark's cache, builds the query
through the public API (TICK front-end or ``Pipeline``) and executes it to
a noop write. A first pass, in the fixed ``TASKS`` order and outside the
timed loop, collects every task's rows and hash-checks them against the
task's oracle SQL in DuckDB; its first task's build and collect is the
workload's first result, the end of set-up.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
import gen
import measure
from spans import plan_phases

TASKS = (
    "tickscript_e2e", "window_mean_1h", "window_count_agg", "alert_state_changes",
    "state_tracking", "moving_avg5", "sigma_outliers", "join_tolerance",
    "flatten_daily", "lineprotocol_roundtrip", "decontamination",
)
TICK_TASKS = {"tickscript_e2e"}


def run(ctx) -> dict:
    import __spark_entry__ as entry

    spark, tr = ctx.spark, ctx.tracer
    with ctx.phase("data"):
        data = gen.write_tables(ctx.seed, os.path.join(ctx.work, "data"))
    queries, oracles = entry.queries(), entry.oracle_sql()
    oracle = checks.Oracle({t: os.path.join(data, f"{t}.parquet")
                            for t in ("events", "documents")}, ctx.work)
    rng = np.random.default_rng([ctx.seed, 2])
    results, layer_acc = [], {}
    builds = {True: [], False: []}  # build seconds of TICK / Pipeline tasks
    collect_s = []

    # first pass: lazy set-up (codegen, workers) and the output check
    collect_rows = 0
    first_result_s = None
    with ctx.phase("check_pass"):
        for name in TASKS:
            spark.catalog.clearCache()
            t_build = time.perf_counter()
            df = queries[name](spark, data)
            t0 = time.perf_counter()
            got = df.toPandas()
            collect_s.append(time.perf_counter() - t0)
            if first_result_s is None:
                first_result_s = time.perf_counter() - t_build
            collect_rows += len(got)
            ok, detail = checks.same_rows(got, oracle.rows(oracles[name]))
            results.append({"op": f"check:{name}", "ok": ok, "detail": detail})

    lat: dict[str, list] = {n: [] for n in TASKS}
    runs = 0
    t_loop = time.perf_counter()
    while True:
        for name in rng.permutation(TASKS):
            runs += 1
            spark.catalog.clearCache()
            mark = ctx.stores.mark() if ctx.trace else None
            with tr.span("task", run=f"{name}#{runs}", task=name):
                t0 = time.perf_counter()
                with tr.span("build"):
                    df = queries[name](spark, data)
                t_built = time.perf_counter()
                if ctx.trace:
                    with tr.span("plan"):
                        ph = plan_phases(df)
                with tr.span("execute"):
                    df.write.format("noop").mode("overwrite").save()
                lat[name].append(time.perf_counter() - t0)
            if ctx.trace:
                _acc(layer_acc, ph)
                _acc(layer_acc, ctx.stores.job_stats(mark[1]))
                _acc(layer_acc, ctx.stores.sql_stats(mark[0]))
                builds[name in TICK_TASKS].append(t_built - t0)
        if time.perf_counter() - t_loop >= ctx.seconds:
            break
    loop_s = time.perf_counter() - t_loop
    ctx.phases["timed_loop"] = loop_s

    all_lat = [x for xs in lat.values() for x in xs]
    e2e = {"throughput_per_s": runs / loop_s, "latency_p50_s": measure.median(all_lat)}
    tail = measure.tail_percentile(len(all_lat), 90.0)
    detail = {
        "batch_tasks_per_s": runs / loop_s,
        "batch_task_p50_s": measure.median(all_lat),
        "batch_task_tail": (None if tail is None else
                            {"p": tail, "s": measure.percentile(all_lat, tail)}),
        "samples": len(all_lat),
        "task_median_s": {n: measure.median(v) for n, v in lat.items()},
    }
    # per-layer values are means per timed task run
    layer = {}
    if ctx.trace:
        layer = {k: v / runs for k, v in layer_acc.items()}
        layer["tick.compile_s"] = measure.median(builds[True])
        layer["pipeline.build_s"] = measure.median(builds[False])
        cov = tr.coverage("task", {"build", "plan", "execute"})
        worst = min(c for _, c in cov)
        layer["trace.uncovered_share"] = 1.0 - worst
        detail["coverage"] = {"min": worst, "rows_below_90pct":
                              [r for r, c in cov if c < 0.9]}
    layer["dataprep.decontamination_s"] = measure.median(lat["decontamination"])
    layer["sink.collect_s"] = measure.median(collect_s)
    layer["sink.rows"] = collect_rows / len(TASKS)
    return {"e2e": e2e, "layer": layer, "detail": detail, "checks": results,
            "attempted": len(results) + runs, "first_result_s": first_result_s}


def _acc(acc: dict, d: dict) -> None:
    for k, v in d.items():
        acc[k] = acc.get(k, 0.0) + float(v)
