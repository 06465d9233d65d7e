"""Tests for the benchmark's own logic (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
import gen  # noqa: E402
import measure  # noqa: E402
from spans import Tracer  # noqa: E402


# --------------------------------------------------------------------- #
# open-loop latency math
# --------------------------------------------------------------------- #


def _schedule(n_files=10, interval=0.1, per_file=20):
    # (file, due, wrote, first point, points): written on time
    return [(f"f{k}", k * interval, k * interval + 0.001, k * per_file, per_file)
            for k in range(1, n_files + 1)]


def test_latency_is_timed_from_due_time_and_a_stall_delays_every_queued_point():
    sched = _schedule()
    # steady: batch b reads files 2b+1, 2b+2 and emits 0.05 s after the later one
    files = {f"f{k}": (k - 1) // 2 for k in range(1, 11)}
    emit = {b: (2 * b + 2) * 0.1 + 0.05 for b in range(5)}
    steady, missing = measure.point_latencies(sched, files, emit)
    assert missing == 0 and len(steady) == 200
    # planted stall: batch 1 takes 2 s, so files 5..10 queue and are read
    # by batch 2, which starts only after batch 1 ends
    stalled_files = dict(files)
    for k in range(5, 11):
        stalled_files[f"f{k}"] = 2
    stalled_emit = {0: emit[0], 1: emit[1] + 2.0, 2: emit[1] + 2.0 + 0.3}
    lat, missing = measure.point_latencies(sched, stalled_files, stalled_emit)
    assert missing == 0
    by_file = {}
    for (name, *_rest), chunk in zip(sched, [lat[i:i + 20] for i in range(0, 200, 20)]):
        by_file[name] = chunk[0]
    steady_by_file = {name: steady[i * 20] for i, (name, *_r) in enumerate(sched)}
    for k in range(3, 11):  # every point at or behind the stalled batch
        assert by_file[f"f{k}"] > steady_by_file[f"f{k}"] + 1.0
    for k in (1, 2):
        assert by_file[f"f{k}"] == pytest.approx(steady_by_file[f"f{k}"])


def test_late_generator_counts_against_latency_and_lateness():
    sched = _schedule(n_files=3)
    late = [(n, due, wrote + (0.5 if n == "f2" else 0.0), f, k) for n, due, wrote, f, k in sched]
    lateness = measure.generator_lateness(late)
    assert lateness[1] == pytest.approx(0.501) and max(lateness[0], lateness[2]) < 0.01
    files = {"f1": 0, "f2": 1, "f3": 1}
    emit = {0: 0.2, 1: 0.9}
    lat, _ = measure.point_latencies(late, files, emit)
    # timed from the due time (0.2), not from the late write (0.701)
    assert lat[20] == pytest.approx(0.9 - 0.2)


def test_unemitted_points_are_missing_not_dropped():
    sched = _schedule(n_files=3)
    lat, missing = measure.point_latencies(sched, {"f1": 0, "f2": 1}, {0: 0.3})
    assert len(lat) == 20 and missing == 40


def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(2000, 99.0) == 99.0
    assert measure.tail_percentile(999, 99.0) == 95.0
    assert measure.tail_percentile(20, 90.0) == 50.0
    assert measure.tail_percentile(19, 90.0) is None
    assert measure.percentile([1, 2, 3, 4], 50) == 2 and measure.median([1, 2, 3, 4]) == 2.5


def test_queue_wait_is_batch_start_minus_due():
    sched = _schedule(n_files=2)
    w = measure.queue_waits(sched, {"f1": 0, "f2": 0}, {0: 0.5})
    assert w[0] == pytest.approx(0.5 - 0.15)


# --------------------------------------------------------------------- #
# output checks
# --------------------------------------------------------------------- #


@pytest.fixture(scope="module")
def alert_oracle(tmp_path_factory):
    import __spark_entry__ as entry

    ev = gen.events(7).iloc[:20_000]
    o = checks.Oracle({"events": ev}, str(tmp_path_factory.mktemp("duck")))
    return o, o.rows(entry.oracle_sql()["tick_stream_count_alert"])


def test_oracle_check_accepts_reordered_rows(alert_oracle):
    _, want = alert_oracle
    assert len(want) > 100
    ok, _ = checks.same_rows(want.sample(frac=1.0, random_state=3), want)
    assert ok


def test_oracle_check_catches_a_planted_wrong_alert_row(alert_oracle):
    _, want = alert_oracle
    bad = want.copy()
    i = bad.index[len(bad) // 2]
    bad.loc[i, "level"] = "CRITICAL" if bad.loc[i, "level"] != "CRITICAL" else "OK"
    ok, detail = checks.same_rows(bad, want)
    assert not ok and "level" in detail
    dropped = want.drop(index=i)
    assert not checks.same_rows(dropped, want)[0]


def test_float_tolerance_is_relative_and_tight():
    want = pd.DataFrame({"k": [1, 2], "v": [10.0, 20.0]})
    ulp = want.assign(v=[10.0 * (1 + 1e-15), 20.0])
    off = want.assign(v=[10.0 * (1 + 1e-9), 20.0])
    assert checks.same_rows(ulp, want, float_rtol=1e-12, keys=("k",))[0]
    assert not checks.same_rows(off, want, float_rtol=1e-12, keys=("k",))[0]
    assert not checks.same_rows(ulp, want)[0]


# --------------------------------------------------------------------- #
# seeded generation
# --------------------------------------------------------------------- #


def _digest(df: pd.DataFrame) -> str:
    return hashlib.sha256(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes()).hexdigest()


def test_equal_seeds_give_byte_identical_inputs(tmp_path):
    for make in (gen.events, gen.documents):
        assert _digest(make(11)) == _digest(make(11))
        assert _digest(make(11)) != _digest(make(12))
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        d.mkdir()
        gen.write_tables(11, str(d))
        gen.write_spool_file(str(d), "x.lp", gen.lp_lines(gen.events(11).iloc[:500]))
    for name in ("events.parquet", "documents.parquet", "x.lp"):
        assert (a / name).read_bytes() == (b / name).read_bytes()


def test_generated_events_keep_the_fixture_shape():
    ev = gen.events(4)
    assert len(ev) == gen.N_EVENTS and ev["event_id"].is_unique
    assert ev["ts"].is_monotonic_increasing and ev["ts"].is_unique
    assert ev["user_id"].nunique() == gen.N_USERS
    assert set(ev["event_type"]) == set(gen.EVENT_TYPES)
    assert 45 < ev["value"].mean() < 55


def test_every_twentieth_line_takes_the_quoted_string_path_and_parses_back():
    from kapacitor_spark.sources.line_protocol import parse_line

    ev = gen.events(5).iloc[:200]
    lines = gen.lp_lines(ev)
    quoted = [i for i, line in enumerate(lines) if '"' in line]
    assert quoted == list(range(0, 200, gen.SLOW_EVERY))
    for i in (0, 1, gen.SLOW_EVERY):
        p = parse_line(lines[i])
        assert p["fields_f"]["value"] == ev["value"].iloc[i]
        assert p["fields_i"]["event_id"] == i
        assert p["fields_s"].get("props") == (ev["props"].iloc[i] if i in quoted else None)


def test_spool_schedule_is_fixed_and_complete():
    s = gen.spool_schedule(first=100, n_points=1000, rate=200.0, interval=0.1)
    assert sum(k for *_r, k in s) == 1000
    assert [due for _, due, _, _ in s][:3] == pytest.approx([0.1, 0.2, 0.3])
    assert s[0][2] == 100 and s[1][2] == 120


# --------------------------------------------------------------------- #
# spans
# --------------------------------------------------------------------- #


def test_self_time_and_coverage():
    tr = Tracer(True)
    with tr.span("task", run="r1"):
        with tr.span("build"):
            pass
        with tr.span("execute"):
            pass
    task, build, execute = tr.spans
    assert build["parent"] == task["id"] and build["run"] == "r1"
    # make the numbers exact: task 10 s, children 4 s + 5 s
    task["start"], task["end"] = 0.0, 10.0
    build["start"], build["end"] = 0.0, 4.0
    execute["start"], execute["end"] = 4.0, 9.0
    st = tr.self_times()
    assert st["task"] == pytest.approx(1.0) and st["execute"] == pytest.approx(5.0)
    assert tr.coverage("task", {"build", "execute"}) == [("r1", pytest.approx(0.9))]
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []
