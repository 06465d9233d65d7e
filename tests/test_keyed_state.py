"""The bucketed keyed-state runner shared by alert_stream,
window_alert_stream and window_count_alert_stream
(streaming._bucketed_state): restart from a checkpoint mid-stream, the
per-key event-time idle timeout under bucketing, and checkpoints written
with another state layout."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kapacitor_spark import streaming
from kapacitor_spark.streaming import alert_stream, barrier, run_available_now

SCHEMA = "id long, time timestamp, host string, value double"
HOSTS = ("h1", "h2", "h3", "h4", "h5")
N_FILES = 4
RESTART_AFTER = 2  # micro-batches before the stop


def _points():
    """Four files (one micro-batch each), 4 points per host per file, 2 s
    apart: a 10 s window and a 3-point count ring of every host span the
    file boundaries, the restart's included."""
    rows = []
    for f in range(N_FILES):
        for j in range(4):
            sec = f * 8 + j * 2
            for i, h in enumerate(HOSTS):
                v = float((37 * i + 53 * (f * 4 + j) + 11 * i * j) % 100)
                rows.append((len(rows), f, f"2024-01-01 00:00:{sec:02d}", h, v))
    return rows


@pytest.fixture(scope="module")
def points(spark, tmp_path_factory):
    """(dir holding one parquet directory per file, batch frame)."""
    root = tmp_path_factory.mktemp("keyed_state")
    df = spark.createDataFrame(
        _points(), "id long, f long, time string, host string, value double"
    ).withColumn("time", F.to_timestamp("time"))
    for f in range(N_FILES):
        df.where(F.col("f") == f).drop("f").coalesce(1).write.parquet(
            str(root / f"part{f}")
        )
    return root, df.drop("f")


ALERT = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |alert()
        .crit(lambda: "value" > 70)
        .warn(lambda: "value" > 40)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('a')
"""

WINDOW_ALERT = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .period(10s)
        .every(10s)
    |mean('value')
        .as('v')
    |alert()
        .crit(lambda: "v" > 60)
        .warn(lambda: "v" > 45)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('a')
"""

COUNT_ALERT = """
stream
    |from()
        .measurement('cpu')
        .groupBy('host')
    |window()
        .periodCount(3)
        .everyCount(1)
    |mean('value')
        .as('v')
    |alert()
        .crit(lambda: "v" > 60)
        .warn(lambda: "v" > 45)
        .durationField('dur')
        .stateChangesOnly()
    |httpOut('a')
"""


def _run_files(spark, script, src_dir, out_dir, ckpt):
    """One availableNow run of ``script`` over the files now in
    ``src_dir`` (one file per micro-batch) into a parquet sink, the one
    sink kind that resumes from a checkpoint."""
    from kapacitor_spark.tick import run_tickscript_stream

    sdf = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src_dir))
    out = run_tickscript_stream(script, sources={"cpu": sdf}, time_col="time")
    q = (
        out["a"].writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None


def _publish(root, src_dir, files):
    """Copy the files in; the file source reads them in modification
    time order, so file f is stamped f seconds after a fixed epoch."""
    os.makedirs(src_dir, exist_ok=True)
    for f in files:
        part = next(
            p for p in os.listdir(root / f"part{f}") if p.endswith(".parquet")
        )
        dst = src_dir / f"f{f}.parquet"
        shutil.copy(root / f"part{f}" / part, dst)
        os.utime(dst, (1_700_000_000 + f, 1_700_000_000 + f))


@pytest.mark.parametrize(
    "script,agg_col,period_s",
    [(ALERT, "value", None), (WINDOW_ALERT, "v", 10), (COUNT_ALERT, "v", None)],
    ids=["alert", "window_alert", "count_window_alert"],
)
def test_restart_equals_uninterrupted_and_batch(
    spark, points, tmp_path, script, agg_col, period_s
):
    """Stop after micro-batch RESTART_AFTER and resume from the same
    checkpoint: the output equals the uninterrupted run and the batch
    replay, although every host's open 10 s window / 3-point ring and
    its alert level span the restart."""
    from kapacitor_spark.tick import run_tickscript

    root, batch_df = points
    cols = ["time", "host", agg_col, "level", "dur"]

    def rows(df):
        return sorted(
            (str(r["time"]), r["host"], round(r[agg_col], 9), r["level"],
             r["dur"])
            for r in df.select(*cols).collect()
        )

    whole = tmp_path / "whole"
    _publish(root, whole / "in", range(N_FILES))
    _run_files(spark, script, whole / "in", whole / "out", whole / "ck")
    uninterrupted = rows(spark.read.parquet(str(whole / "out")))

    split = tmp_path / "split"
    _publish(root, split / "in", range(RESTART_AFTER))
    _run_files(spark, script, split / "in", split / "out", split / "ck")
    first = rows(spark.read.parquet(str(split / "out")))
    _publish(root, split / "in", range(RESTART_AFTER, N_FILES))
    _run_files(spark, script, split / "in", split / "out", split / "ck")
    resumed = rows(spark.read.parquet(str(split / "out")))

    batch = rows(run_tickscript(
        script, sources={"cpu": batch_df}, time_col="time", dims=()
    )["a"])
    if period_s:
        # the stream seals a window only once a later point of its host
        # arrives; the batch replay also emits the trailing open ones
        last = pd.Timestamp("2024-01-01 00:00:30")
        batch = [
            t for t in batch
            if pd.Timestamp(t[0]) + pd.Timedelta(seconds=period_s) <= last
        ]
    assert resumed == uninterrupted == batch
    assert 0 < len(first) < len(resumed)
    assert {t[3] for t in resumed} >= {"CRITICAL", "WARNING", "OK"}


def _same_bucket_hosts(spark):
    """Two host names in one hash bucket and one in another."""
    names = [f"host{i}" for i in range(200)]
    bucket = {
        r["h"]: r["b"]
        for r in spark.createDataFrame([(n,) for n in names], "h string")
        .select("h", F.pmod(F.xxhash64("h"), F.lit(streaming._BUCKETS))
                .alias("b"))
        .collect()
    }
    a = names[0]
    c = next(n for n in names[1:] if bucket[n] == bucket[a])
    b = next(n for n in names[1:] if bucket[n] != bucket[a])
    return a, b, c


def _write(spark, path, batches):
    for rows in batches:
        spark.createDataFrame(
            rows, "t string, host string, value double"
        ).withColumn("t", F.to_timestamp("t")).coalesce(1).write.mode(
            "append"
        ).parquet(path)


def test_idle_timeout_evicts_per_key_inside_a_bucket(spark, tmp_path):
    """Event-time DeleteGroup under bucketing: ``a`` idles past
    watermark + timeout and is evicted while ``c`` — same bucket, with
    rows in that micro-batch — keeps its state, exactly as Spark would
    have timed out ``a``'s own group and not ``c``'s. ``a``'s next point
    starts from fresh state and re-fires CRITICAL; ``c``'s stays
    suppressed."""
    a, b, c = _same_bucket_hosts(spark)
    path = str(tmp_path / "in")
    _write(spark, path, [
        [("2024-01-01 00:00:00", a, 95.0), ("2024-01-01 00:00:00", c, 95.0)],
        [("2024-01-01 02:00:00", b, 95.0)],   # watermark passes a+1h, c+1h
        [("2024-01-01 02:01:00", c, 96.0),    # c has rows: keeps its state
         ("2024-01-01 02:01:00", b, 5.0)],    # a has none: evicted
        [("2024-01-01 02:02:00", a, 95.0),    # fresh state: fires again
         ("2024-01-01 02:02:00", c, 97.0)],   # still CRITICAL: silent
    ])
    src = spark.readStream.schema("t timestamp, host string, value double") \
        .option("maxFilesPerTrigger", 1).parquet(path)
    alerts = alert_stream(
        barrier(src, "t", "1s"), "t", ["host"], crit="value > 90",
        state_changes_only=True, idle_timeout="1h",
    )
    got = run_available_now(alerts, "keyed_idle", str(tmp_path / "ck"))
    assert sorted((str(r.t), r.host, r.level) for r in got.collect()) == sorted([
        ("2024-01-01 00:00:00", a, "CRITICAL"),
        ("2024-01-01 00:00:00", c, "CRITICAL"),
        ("2024-01-01 02:00:00", b, "CRITICAL"),
        ("2024-01-01 02:01:00", b, "OK"),
        ("2024-01-01 02:02:00", a, "CRITICAL"),
    ])


def test_idle_timeout_keeps_a_key_with_late_rows(spark, tmp_path):
    """A row the late-data filter still admits (it checks the previous
    micro-batch's watermark) can put its key's expiry below the current
    watermark. The key keeps its state for that call and expires at a
    later one; a per-key timeout set below the watermark would have
    failed the query instead."""
    path = str(tmp_path / "in")
    _write(spark, path, [
        [("2024-01-01 00:00:00", "a", 95.0)],   # a → CRITICAL
        [("2024-01-01 02:00:00", "b", 95.0)],   # watermark → 01:59:59
        [("2024-01-01 00:10:00", "a", 96.0)],   # admitted; expiry 01:10
        [("2024-01-01 02:02:00", "a", 97.0)],   # state kept: silent
    ])
    src = spark.readStream.schema("t timestamp, host string, value double") \
        .option("maxFilesPerTrigger", 1).parquet(path)
    alerts = alert_stream(
        barrier(src, "t", "1s"), "t", ["host"], crit="value > 90",
        state_changes_only=True, idle_timeout="1h",
    )
    got = run_available_now(alerts, "keyed_late", str(tmp_path / "ck"))
    assert sorted((str(r.t), r.host, r.level) for r in got.collect()) == [
        ("2024-01-01 00:00:00", "a", "CRITICAL"),
        ("2024-01-01 02:00:00", "b", "CRITICAL"),
    ]


def _alerts_to_file(spark, src_path, out_dir, ckpt, stream):
    src = spark.readStream.schema("t timestamp, host string, value double") \
        .option("maxFilesPerTrigger", 1).parquet(src_path)
    q = (
        stream(src).writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def test_per_key_checkpoint_fails_loudly(spark, tmp_path):
    """A checkpoint written with the per-key state layout (one state row
    per host, the earlier alert state schema) must not restore into the
    bucketed operator: the restart fails naming the key schemas instead
    of silently starting every host from fresh state."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    path = str(tmp_path / "in")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _write(spark, path, [[("2024-01-01 00:00:00", "a", 95.0)]])
    per_key_state = StructType([
        StructField(n, t) for n, t in (
            ("last_level", LongType()), ("history", StringType()),
            ("idx", LongType()), ("flapping", LongType()),
            ("last_trig", LongType()), ("ep_start", LongType()),
        )
    ])

    def per_key(src):
        def machine(key, pdfs, state):
            for pdf in pdfs:
                state.update((3, ",".join(["3"] * 21), 0, 0, -1, -1))
                yield pdf.assign(level="CRITICAL")

        return src.groupBy("host").applyInPandasWithState(
            machine,
            StructType(src.schema.fields + [StructField("level", StringType())]),
            per_key_state, "append", GroupStateTimeout.NoTimeout,
        )

    assert _alerts_to_file(spark, path, out, ck, per_key).exception() is None
    _write(spark, path, [[("2024-01-01 00:00:10", "a", 5.0)]])
    with pytest.raises(Exception, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        _alerts_to_file(
            spark, path, out, ck,
            lambda src: alert_stream(src, "t", ["host"], crit="value > 90"),
        )


def test_bucket_count_change_fails_loudly(spark, tmp_path, monkeypatch):
    """The state row carries the bucket count: a checkpoint written with
    another count (keys hash to other buckets) is refused by the first
    call that finds a bucket written with the old count — here every old
    bucket holds hosts, and the resumed batch reaches them."""
    path = str(tmp_path / "in")
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    hosts = [f"h{i}" for i in range(64)]
    _write(spark, path, [[("2024-01-01 00:00:00", h, 95.0) for h in hosts]])

    def alerts(src):
        return alert_stream(src, "t", ["host"], crit="value > 90")

    with monkeypatch.context() as m:
        m.setattr(streaming, "_BUCKETS", streaming._BUCKETS // 2)
        assert _alerts_to_file(spark, path, out, ck, alerts).exception() is None
    _write(spark, path, [[("2024-01-01 00:00:10", h, 5.0) for h in hosts]])
    with pytest.raises(Exception, match="hash buckets"):
        _alerts_to_file(spark, path, out, ck, alerts)
