"""Structured Streaming compile targets (SURVEY §2.8, build-plan step 8).

The reference runs every pipeline as a stream of per-point messages with
watermark barriers (/root/reference/edge/messages.go:880, barrier.go). The
Spark mapping:

* stream edge       = streaming DataFrame (``spark.readStream``)
* barrier().idle/period = ``withWatermark(time, delay)`` — late points are
  dropped natively (the reference drops points older than the last barrier,
  /root/reference/pipeline/barrier.go:13-18)
* window().period/every = ``F.window`` groupBy in append mode (emission on
  watermark passing window end ≈ emission on barrier,
  /root/reference/window.go:149-182)
* stateful per-group operators (alert stateChangesOnly/flapping,
  stateCount/stateDuration, count windows) = ``applyInPandasWithState``
  keyed state — the analog of per-group receivers + snapshots
  (/root/reference/edge/grouped.go, task.go:532-586); checkpointing
  replaces snapshot/restore.
* the three alert operators (alert_stream, window_alert_stream,
  window_count_alert_stream) key that state by HASH BUCKET, not by group
  (``_bucketed_state``): rows are grouped by
  ``pmod(xxhash64(dims), _BUCKETS)`` in the JVM, one Python call walks
  every group of a bucket, and each bucket's state row holds a dict of
  its groups' machine states — per-call cost is paid per bucket instead
  of per group. The trade-off: a touched bucket rewrites its whole dict
  every micro-batch.

The DECLARATIVE subset of Pipeline (where/eval/default/shift/union/
window_time+agg) works unchanged on streaming DataFrames — Spark plans it
incrementally. Only the ordered-window operators need the stateful forms
below, because event order across micro-batches requires keyed state.
"""

from __future__ import annotations

import json
import threading
from collections import defaultdict
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from kapacitor_spark.durations import parse_duration, to_interval
from kapacitor_spark.streaming.state import (
    LEVELS, determine_levels, walk_levels,
)

__all__ = [
    "barrier",
    "join_stream",
    "window_count_stream",
    "alert_stream",
    "window_alert_stream",
    "window_count_alert_stream",
    "combine_stream",
    "sample_count_stream",
    "state_count_stream",
    "state_duration_stream",
    "change_detect_stream",
    "sigma_stream",
    "ordered_transform_stream",
    "autoscale_stream",
    "run_available_now",
    "http_out_stream",
    "deadman_stream",
    "stats_stream",
    "window_barrier_stream",
    "simhash_match_stream",
    "simhash_ingest_foreachbatch",
]


def barrier(df: DataFrame, time_col: str, delay: str | float) -> DataFrame:
    """barrier().idle(d)/.period(d) → event-time watermark
    (/root/reference/barrier.go:86-335). ``delay`` bounds state retention
    and drops late data, exactly the reference's barrier contract."""
    return df.withWatermark(time_col, to_interval(delay))


def _episode_durations(lvs, tms_us, last_level: int, ep_start: int):
    """Shared .durationField derivation (alert.go event Duration): ns
    since the OK→non-OK transition; a recovery row carries the ended
    episode's length; steady OK is 0. ``last_level`` is the PRE-walk
    carry, ``ep_start`` the carried episode-start µs (-1 = none).
    Returns (durations int64 ndarray, new ep_start). One implementation
    for alert_stream and both fused window operators — the batch compile
    derives the identical value from window expressions."""
    lv_arr = np.asarray(lvs, dtype=np.int64)
    tms_us = np.asarray(tms_us, dtype=np.int64)
    prev = np.concatenate(([last_level], lv_arr[:-1]))
    starts = (lv_arr != 0) & (prev == 0)
    sidx = np.where(starts, np.arange(len(lv_arr)), -1)
    np.maximum.accumulate(sidx, out=sidx)
    ep = np.where(sidx >= 0, tms_us[np.clip(sidx, 0, None)], ep_start)
    in_ep = (lv_arr != 0) | (prev != 0)
    durs = np.where(
        in_ep & (ep >= 0), (tms_us - ep) * 1000, 0
    ).astype("int64")
    if len(ep):
        ep_start = int(ep[-1])
    return durs, ep_start


def _count_window_step(carries, sinces, vals, bounds, period_count,
                       every_count, agg, full_only):
    """One micro-batch of the keyed count-window ring
    (/root/reference/window.go:360-470) for several keys at once: key j
    owns the event-time-ordered ``vals[bounds[j]:bounds[j + 1]]``, its
    carried ring ``carries[j]`` (its last ≤ period_count values) and its
    emission counter ``sinces[j]``. Vectorized across the keys:
    trailing-window aggregates via per-key cumsum prefix sums
    (sum/mean/count) or a sliding_window_view over the rings, each
    front-padded with identity values (min/max), and the every_count
    emission gate. Shared by window_count_stream and the fused
    window_count_alert_stream. Returns
    (out values, emit gate, new carries, new sinces)."""
    lens = np.diff(bounds)
    rings = [
        np.concatenate([c, vals[bounds[j]:bounds[j + 1]]])
        for j, c in enumerate(carries)
    ]
    clens = np.array([len(c) for c in carries], dtype=np.int64)
    local = np.arange(bounds[-1] - bounds[0]) - np.repeat(
        bounds[:-1] - bounds[0], lens
    )
    g = np.repeat(clens, lens) + local  # each new value's index in its ring
    if agg in ("sum", "mean", "count"):
        sizes = clens + lens + 1
        cs = np.concatenate(
            [np.concatenate(([0.0], np.cumsum(a))) for a in rings]
        )
        base = np.repeat(np.cumsum(sizes) - sizes, lens)
        lo = np.maximum(g + 1 - period_count, 0)
        wsum = cs[base + g + 1] - cs[base + lo]
        wcnt = (g + 1 - lo).astype(float)
        out = {"sum": wsum, "mean": wsum / wcnt, "count": wcnt}[agg]
    else:
        pad = np.full(period_count - 1, np.inf if agg == "min" else -np.inf)
        padded = np.concatenate([x for a in rings for x in (pad, a)])
        sizes = clens + lens + period_count - 1
        base = np.repeat(np.cumsum(sizes) - sizes, lens)
        win = np.lib.stride_tricks.sliding_window_view(
            padded, period_count
        )[base + g]
        out = win.min(axis=1) if agg == "min" else win.max(axis=1)
    # emission gate: counter hits every_count then resets → the i-th new
    # point emits iff (since + i + 1) % every_count == 0
    gate = (np.repeat(np.asarray(sinces), lens) + local + 1) % every_count == 0
    if full_only:
        # the carry holds min(total_seen, period_count) values, so
        # (carry + position) >= period_count detects window-full
        # correctly across micro-batch boundaries
        gate &= (g + 1) >= period_count
    return (
        out, gate, [a[-period_count:] for a in rings],
        [int((s + n) % every_count) for s, n in zip(sinces, lens)],
    )


#: Level index → name, for vectorized lookups.
_LEVEL_NAMES = np.array(LEVELS, dtype=object)


class _LevelWalk:
    """The alert() knobs of one keyed operator and the per-key level walk
    the three alert operators share: determine_levels (reset
    hysteresis), the .durationField episode and walk_levels, run on one
    key's numpy slices of a hash bucket. ``preds``/``resets`` (level →
    lambda or None) only tell which levels are defined. A key's state is
    the compact list [last level, history ring as level digits, ring
    index, flapping, last-triggered µs (-1 = never), episode start µs
    (-1 = none)]."""

    def __init__(self, preds, resets, *, state_changes_only, events_only,
                 no_recoveries, flapping, history, max_interval, duration):
        self.use_resets = any(v is not None for v in resets.values())
        self.defined = {l for l in (1, 2, 3) if preds[l] is not None}
        self.has_reset = {l: resets[l] is not None for l in (1, 2, 3)}
        flap_low, flap_high = flapping if flapping else (None, None)
        self.knobs = dict(
            state_changes_only=state_changes_only, events_only=events_only,
            no_recoveries=no_recoveries, flap_low=flap_low,
            flap_high=flap_high,
        )
        self.mi_us = (
            round(parse_duration(max_interval) * 1_000_000)
            if max_interval is not None else None
        )
        self.new = [0, "0" * history, 0, 0, -1, -1]
        self.duration = duration

    def walk(self, states, bounds, tms, lvs=None, m=None, r=None):
        """Walk each key j over rows ``bounds[j]:bounds[j + 1]`` (event
        time ``tms`` in µs), seeded by ``states[j]`` (None = new key).
        ``lvs`` are precomputed levels, or None with the ``m``/``r``
        predicate arrays of determine_levels. Returns
        (levels, emit mask, durations, new states)."""
        n = len(tms)
        lvs = np.zeros(n, dtype=np.int64) if lvs is None else lvs
        emit = np.zeros(n, dtype=bool)
        durs = np.zeros(n, dtype=np.int64)
        out = []
        for j, s in enumerate(states):
            a, b = bounds[j], bounds[j + 1]
            if a == b:
                out.append(s if s is not None else list(self.new))
                continue
            last, hist, idx, flap, trig, ep = s if s is not None else self.new
            if m is not None:
                lvs[a:b], _ = determine_levels(
                    {l: v[a:b] for l, v in m.items()},
                    {l: v[a:b] for l, v in r.items()},
                    self.defined, self.has_reset, last,
                )
            lv = lvs[a:b]
            if self.duration:
                # last is still the PRE-walk carry here
                durs[a:b], ep = _episode_durations(lv, tms[a:b], last, ep)
            emit[a:b], st = walk_levels(
                lv,
                {"last_level": last, "history": [int(c) for c in hist],
                 "idx": idx, "flapping": bool(flap),
                 "last_triggered": None if trig == -1 else trig},
                times=tms[a:b] if self.mi_us is not None else None,
                max_interval_us=self.mi_us,
                **self.knobs,
            )
            lt = st["last_triggered"]
            out.append([
                st["last_level"], "".join(map(str, st["history"])),
                st["idx"], int(st["flapping"]), -1 if lt is None else lt,
                ep,
            ])
        return lvs, emit, durs, out


def _pandas_alert(time_col, levels, resets, duration_field, **knobs):
    """The alert stage of the two fused window operators: ``levels`` /
    ``resets`` (level index → TICK lambda source, pandas callable or
    None) compiled for pandas, plus the shared walk. Returns
    ``alert(rows, bounds, states, tms) -> (emitted rows, new states)``:
    the lambdas run over a whole bucket's window rows at once (they are
    row-wise), then each key's slice is walked."""
    from kapacitor_spark.functions.lambdas import compile_lambda_pandas

    def compiled(x):
        if x is None:
            return None
        return compile_lambda_pandas(x, time_col) if isinstance(x, str) else x

    preds = {l: compiled(x) for l, x in levels.items()}
    resets = {l: compiled(x) for l, x in resets.items()}
    walk = _LevelWalk(
        preds, resets, duration=duration_field is not None, **knobs
    )

    def alert(rows, bounds, states, tms):
        n, lvs, m, r = len(rows), None, None, None
        if n and walk.use_resets:
            m = {
                l: (preds[l](rows) if preds[l] is not None
                    else np.zeros(n, dtype=bool))
                for l in (1, 2, 3)
            }
            r = {
                l: (resets[l](rows).astype(object) if resets[l] is not None
                    else np.full(n, None, dtype=object))
                for l in (1, 2, 3)
            }
        elif n:
            # first matching of CRITICAL > WARNING > INFO
            # (alert.go:915-950) — ascending, higher level overrides
            lvs = np.zeros(n, dtype=np.int64)
            for l in (1, 2, 3):
                if preds[l] is not None:
                    lvs = np.where(preds[l](rows), l, lvs)
        lvs, emit, durs, states = walk.walk(states, bounds, tms, lvs, m, r)
        rows["level"] = _LEVEL_NAMES[lvs]
        if duration_field is not None:
            rows[duration_field] = durs
        return rows.loc[emit], states

    return alert


#: Hash buckets per keyed alert operator. Every key lives in bucket
#: pmod(xxhash64(dims), _BUCKETS) (computed in the JVM), and each bucket's
#: rows of a micro-batch reach Python as ONE call — per-call cost is paid
#: per bucket, not per key. Fixed for a checkpoint's lifetime: a call that
#: finds a bucket written with another count fails the query. Measured on
#: the 1,500-key stream_tasks alert task (local[4], 4 state partitions):
#: 8, 16 and 32 buckets run within noise of each other, 128 is slower.
_BUCKETS = 16

_BUCKET_STATE = StructType([
    StructField("buckets", LongType()),
    # JSON [[key values, key state, expiry ms (-1 = none)], ...]
    StructField("keys", StringType()),
])


def _json_key(v):
    return v if v is None or isinstance(v, (str, int, float)) else str(v)


def _bucketed_state(
    df: DataFrame,
    dims: Sequence[str],
    order: Sequence[str],
    out_schema: StructType,
    step,
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """The keyed-state runner of alert_stream, window_alert_stream and
    window_count_alert_stream: ``applyInPandasWithState`` over hash
    buckets of the ``dims`` keys, one state row per bucket holding a dict
    of per-key machine states.

    Per call the runner concatenates the bucket's chunks, sorts them once
    by (key, ``order``) and hands the operator's
    ``step(pdf, bounds, states) -> (out pdf, new states)`` the sorted
    rows, each key's row range ``bounds[j]:bounds[j + 1]`` and its
    JSON-able state (None for a new key). Trade-off: a touched bucket
    rewrites its whole dict, so a bucket's write is proportional to the
    keys it holds, not to the keys it saw.

    ``idle_timeout_ms`` keeps the per-key event-time DeleteGroup of
    alert_stream exact: a key expires at its last event + timeout, the
    bucket's timeout is its earliest key expiry, and a call evicts the
    keys with no rows in it whose expiry is below the watermark — exactly
    when Spark would have timed out that key's own group."""
    dims, order = list(dims), list(order)
    time_col = order[0]
    buckets = _BUCKETS  # pinned into the query when it is built
    empty = pd.DataFrame(columns=out_schema.fieldNames())

    def run(_bucket, chunks: Iterator[pd.DataFrame], state: GroupState):
        keyed = {}
        if state.exists:
            stored, blob = state.get
            if stored != buckets:
                raise RuntimeError(
                    f"keyed alert state in this checkpoint has {stored} "
                    f"hash buckets, this build uses {buckets}: restart "
                    "the query from a new checkpoint"
                )
            keyed = {tuple(k): (s, e) for k, s, e in json.loads(blob)}
        frames = [c for c in chunks if len(c)]
        out, touched = empty, set()
        if frames:
            pdf = frames[0] if len(frames) == 1 else pd.concat(
                frames, ignore_index=True
            )
            codes = (
                pdf.groupby(dims, sort=False, dropna=False).ngroup()
                if dims else 0
            )
            pdf = pdf.assign(__key=codes).sort_values(
                ["__key", *order], kind="stable", ignore_index=True
            )
            codes = pdf["__key"].to_numpy()
            starts = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
            bounds = np.r_[starts, len(pdf)]
            keys = list(zip(*[
                map(_json_key, pdf[d].to_numpy()[starts].tolist())
                for d in dims
            ])) if dims else [()]
            out, states = step(
                pdf, bounds, [keyed[k][0] if k in keyed else None for k in keys]
            )
            expiry = [-1] * len(keys)
            if idle_timeout_ms is not None:
                last_us = pdf[time_col].to_numpy(dtype="datetime64[us]")[
                    bounds[1:] - 1
                ].astype(np.int64)
                expiry = (last_us // 1000 + idle_timeout_ms).tolist()
            keyed.update(zip(keys, zip(states, expiry)))
            touched = set(keys)
        if idle_timeout_ms is not None:
            wm = state.getCurrentWatermarkMs()
            keyed = {
                k: v for k, v in keyed.items() if v[1] >= wm or k in touched
            }
        if keyed:
            state.update((buckets, json.dumps(
                [[list(k), s, e] for k, (s, e) in keyed.items()],
                separators=(",", ":"),
            )))
            if idle_timeout_ms is not None:
                state.setTimeoutTimestamp(
                    max(min(e for _, e in keyed.values()), wm)
                )
        elif state.exists:
            state.remove()
        yield out

    bucket = (
        F.pmod(F.xxhash64(*dims), F.lit(buckets)) if dims else F.lit(0)
    )
    return df.withColumn("__bucket", bucket).groupBy(
        "__bucket"
    ).applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType=_BUCKET_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if idle_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def alert_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    crit: str | None = None,
    warn: str | None = None,
    info: str | None = None,
    crit_reset=None,
    warn_reset=None,
    info_reset=None,
    state_changes_only: bool = True,
    events_only: bool = False,
    max_interval: str | float | None = None,
    no_recoveries: bool = False,
    flapping: tuple[float, float] | None = None,
    history: int = 21,
    idle_timeout: str | float | None = None,
    tiebreak: Sequence[str] = (),
    duration_field: str | None = None,
) -> DataFrame:
    """Streaming alert state machine (/root/reference/alert.go:989-1290):
    level CASE is evaluated declaratively; transitions / flapping
    suppression live in keyed state that persists across micro-batches
    (checkpoint = the reference's snapshot/restore, task.go:532).

    ``idle_timeout``: drop a group's state after this much EVENT-TIME
    idleness — the ``barrier().delete()`` / DeleteGroup analog
    (/root/reference/pipeline/barrier.go:13-56, edge/messages.go:932);
    essential at high group cardinality (ephemeral hosts/containers).
    Event-time (not processing-time) timeouts keep the engine's "time is
    data time" contract (reference DESIGN.md: if data stops flowing, so
    does time), make replays deterministic, and terminate under the
    availableNow trigger (a processing-time timer would force the
    micro-batch loop to spin until the wall clock caught up). Requires a
    watermark upstream — apply ``barrier()`` first.

    ``crit_reset``/``warn_reset``/``info_reset`` (str SQL or Column):
    reset hysteresis (alert.go:915-950) — once a level with a reset
    lambda is active, the level only falls when its reset passes. Level
    determination then moves into the keyed walk (the held level is
    state), sharing determine_levels with the batch path bit-for-bit.

    ``events_only``: the reference's STREAM trigger rule when
    stateChangesOnly is off (alert.go:1115-1159) — every non-OK point
    fires, OK only as a recovery; run_tickscript's batch replay uses the
    same flag, so stream == batch on identical input.

    ``duration_field``: the alert event Duration (alert.go event state,
    pipeline/alert.go DurationField) — nanoseconds since the current
    alert episode began (the OK→non-OK transition); an OK recovery
    event carries the ended episode's length; steady OK is 0. The
    episode start lives in keyed state (one int64), so durations span
    micro-batches — identical semantics to the batch compile's window
    expressions (pipeline.py Pipeline.alert duration_field).

    Output: input columns + ``level``. State per group: last level +
    level-history ring + flapping flag — a few dozen bytes in its hash
    bucket's dict (_bucketed_state), safe at millions of groups.
    """
    resets = {1: info_reset, 2: warn_reset, 3: crit_reset}
    preds = {1: info, 2: warn, 3: crit}
    walk = _LevelWalk(
        preds, resets, state_changes_only=state_changes_only,
        events_only=events_only, no_recoveries=no_recoveries,
        flapping=flapping, history=history, max_interval=max_interval,
        duration=duration_field is not None,
    )

    def col(x):
        return F.expr(x) if isinstance(x, str) else x

    lv_df = df
    if walk.use_resets:
        # pre-evaluate predicates declaratively (codegen'd); the held-
        # level walk happens inside the keyed machine where `cur` is state
        for l in (1, 2, 3):
            lv_df = lv_df.withColumn(
                f"__m{l}", col(preds[l]) if preds[l] is not None else F.lit(False)
            ).withColumn(
                f"__r{l}",
                (col(resets[l]) if resets[l] is not None else F.lit(None))
                .cast("boolean"),
            )
    else:
        # first matching of CRITICAL > WARNING > INFO (alert.go:915-950)
        lv = F.lit(0)
        for l in (1, 2, 3):
            if preds[l] is not None:
                lv = F.when(col(preds[l]), l).otherwise(lv)
        lv_df = lv_df.withColumn("__lv", lv)
    out_schema = StructType(
        [df.schema[c] for c in df.columns]
        + [StructField("level", StringType())]
        + ([StructField(duration_field, LongType())] if duration_field else [])
    )
    in_cols = list(df.columns)

    def step(pdf, bounds, states):
        tms = pdf[time_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
        if walk.use_resets:
            lvs = None
            m = {l: pdf[f"__m{l}"].fillna(False).to_numpy() for l in (1, 2, 3)}
            r = {l: pdf[f"__r{l}"].to_numpy(dtype=object) for l in (1, 2, 3)}
        else:
            lvs, m, r = pdf["__lv"].to_numpy(dtype=np.int64), None, None
        lvs, emit, durs, states = walk.walk(states, bounds, tms, lvs, m, r)
        out = pdf.loc[emit, in_cols].assign(level=_LEVEL_NAMES[lvs[emit]])
        if duration_field is not None:
            out[duration_field] = durs[emit]
        return out, states

    return _bucketed_state(
        lv_df, dims, [time_col, *tiebreak], out_schema, step,
        idle_timeout_ms=(
            round(parse_duration(idle_timeout) * 1000)
            if idle_timeout is not None else None
        ),
    )


#: window_alert_stream partial-aggregate algebra: per-agg
#: (init_from_chunk, merge, finalize) over JSON-serializable partials.
_WA_AGGS = {
    "count", "sum", "mean", "min", "max", "stddev", "median", "spread",
    "first", "last",
}


def window_alert_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    period: str | float,
    every: str | float,
    field: str,
    agg: str,
    out_col: str | None = None,
    crit=None,
    warn=None,
    info=None,
    crit_reset=None,
    warn_reset=None,
    info_reset=None,
    state_changes_only: bool = False,
    events_only: bool = False,
    max_interval: str | float | None = None,
    no_recoveries: bool = False,
    flapping: tuple[float, float] | None = None,
    history: int = 21,
    tiebreak: Sequence[str] = (),
    duration_field: str | None = None,
) -> DataFrame:
    """FUSED streaming ``window().period(p).every(e) |agg(field) |alert()``
    with stateful alert knobs — ONE keyed state operator.

    Why fused: Spark forbids ``applyInPandasWithState`` downstream of a
    streaming aggregation (and multiple applyInPandasWithStates), and the
    transformWithState API needs the protobuf package this environment
    lacks — so the reference's single most canonical live task shape
    (window | mean | alert().stateChangesOnly(),
    /root/reference/integrations/streamer_test.go TestStream_Alert*)
    cannot be expressed as two chained operators. This operator is instead
    the reference's OWN execution shape: the stream window node buffers
    per-group state and emits on group time passing the boundary
    (/root/reference/window.go:149-260), feeding the in-process alert
    state machine (alert.go:989-1290).

    Semantics:
    * hopping windows aligned to the epoch like ``F.window(t, p, e)`` —
      identical window starts to the batch replay's windowed aggregation;
    * PER-GROUP point-driven finalization: window [s, s+p) for group g
      emits once a point of g arrives with ts >= s+p (the reference's
      per-group emission rule — stream windows advance on each group's
      own event time, window.go:149-182). Trailing windows that no later
      point seals are not emitted (batch replay emits them; compare
      prefixes when validating stream against batch);
    * aggregate state per open window is a constant-size partial
      (count/sum/mean/min/max/stddev via Welford merge/spread/first/last)
      except ``median``, which buffers the window's values — exactly what
      the reference's window node buffers for EVERY aggregate;
    * level lambdas are pandas-compiled (compile_lambda_pandas) and run
      in-process over a hash bucket's emitted window rows at once, then
      the SAME determine_levels/walk_levels machine as batch +
      alert_stream walks each group.

    ``crit``/``warn``/``info`` + resets: TICK lambda SOURCE strings (or
    pandas callables f(pdf)->bool ndarray). At 100 TB: state per group =
    ceil(p/e) open-window partials + the alert ring — bytes in its hash
    bucket's dict, safe at millions of groups; parallel across buckets,
    sequential only within a group's own micro-batch slice like every
    keyed operator here.
    """
    if agg not in _WA_AGGS:
        raise ValueError(
            f"window_alert_stream: unsupported aggregation {agg!r} "
            f"(supported: {sorted(_WA_AGGS)})"
        )
    # UNGROUPED tasks (r11 3rd wave): a synthetic constant key gives
    # "keyed state with no key" — ONE group, serial at this stage like
    # the reference's own ungrouped stream task (a single node walks the
    # points); the upstream scan stays parallel and state is bytes.
    period_us = round(parse_duration(period) * 1_000_000)
    every_us = round(parse_duration(every) * 1_000_000)
    if period_us <= 0 or every_us <= 0:
        raise ValueError("window_alert_stream: period/every must be > 0")
    out_col = out_col or f"__{agg}"

    alert = _pandas_alert(
        time_col, {1: info, 2: warn, 3: crit},
        {1: info_reset, 2: warn_reset, 3: crit_reset}, duration_field,
        state_changes_only=state_changes_only, events_only=events_only,
        no_recoveries=no_recoveries, flapping=flapping, history=history,
        max_interval=max_interval,
    )

    from pyspark.sql.types import TimestampType
    val_type = LongType() if agg == "count" else DoubleType()
    out_schema = StructType(
        [StructField(time_col, TimestampType())]
        + [StructField(df.schema[d].name, df.schema[d].dataType) for d in dims]
        + [StructField(out_col, val_type), StructField("level", StringType())]
        + ([StructField(duration_field, LongType())] if duration_field else [])
    )
    n_off = max(1, -(-period_us // every_us))

    def _partials(kid, ts, v) -> dict:
        """Per-window partials of a bucket's rows (key index ``kid``):
        {key index: {start_us: partial}}."""
        frames = []
        for j in range(n_off):
            s = (ts // every_us - j) * every_us
            m = (ts - s) < period_us
            if m.any():
                frames.append(pd.DataFrame({
                    "k": kid[m], "s": s[m], "ts": ts[m], "v": v[m],
                }))
        out: dict = defaultdict(dict)
        if not frames:
            return out
        ex = pd.concat(frames, ignore_index=True).sort_values(
            ["k", "s", "ts"], kind="stable"
        )
        if agg in ("first", "last"):
            # ex is time-sorted within each window (stable), so the
            # first/last non-null row is the min_by/max_by(time) value
            gz = ex.dropna(subset=["v"]).groupby(["k", "s"], sort=True)
            pick = gz.head(1) if agg == "first" else gz.tail(1)
            for k, s, t, x in zip(*(pick[c].tolist() for c in ex.columns)):
                out[k][s] = [t, x]
            return out
        g = ex.groupby(["k", "s"], sort=True)["v"]
        if agg == "median":
            for (k, s), grp in g:
                out[int(k)][int(s)] = grp.dropna().tolist()
            return out
        nn = g.count()               # non-null count (F.count semantics)
        if agg == "count":
            cols = [nn]
        elif agg == "sum":
            cols = [g.sum()]
        elif agg == "mean":
            cols = [nn, g.sum()]
        elif agg in ("min", "max"):
            cols = [g.min() if agg == "min" else g.max()]
        elif agg == "spread":
            cols = [g.min(), g.max()]
        else:  # stddev
            cols = [nn, g.mean(), (g.var(ddof=0) * nn).fillna(0.0)]
        ks = nn.index.get_level_values(0).tolist()
        ss = nn.index.get_level_values(1).tolist()
        for k, s, *p in zip(ks, ss, *(c.tolist() for c in cols)):
            out[k][s] = p
        return out

    def _merge(a, b):
        if agg == "median":
            return a + b
        if agg == "count":
            return [a[0] + b[0]]
        if agg == "sum":
            return [a[0] + b[0]]
        if agg == "mean":
            return [a[0] + b[0], a[1] + b[1]]
        if agg == "min":
            return [min(a[0], b[0])]
        if agg == "max":
            return [max(a[0], b[0])]
        if agg == "spread":
            return [min(a[0], b[0]), max(a[1], b[1])]
        if agg == "stddev":
            na, ma, m2a = a
            nb, mb, m2b = b
            n = na + nb
            if n == 0:
                return [0, 0.0, 0.0]
            d = mb - ma
            m = ma + d * nb / n
            return [n, m, m2a + m2b + d * d * na * nb / n]
        if agg == "first":
            return a if a[0] <= b[0] else b
        return a if a[0] >= b[0] else b  # last

    def _final(p):
        if agg == "median":
            return float(np.median(p)) if p else None
        if agg == "count":
            return int(p[0])
        if agg in ("sum", "min", "max"):
            return float(p[0])
        if agg == "mean":
            return float(p[1] / p[0]) if p[0] else None
        if agg == "spread":
            return float(p[1] - p[0])
        if agg == "stddev":
            n, _, m2 = p
            return float(np.sqrt(m2 / (n - 1))) if n > 1 else None
        return float(p[1])  # first/last

    def step(pdf, bounds, states):
        # key state: [open windows [[start_us, partial], ...], max event
        # µs, *alert walk state]
        ts = pdf[time_col].to_numpy(dtype="datetime64[us]").astype(np.int64)
        v = pd.to_numeric(pdf[field], errors="coerce").to_numpy(dtype=float)
        parts = _partials(
            np.repeat(np.arange(len(bounds) - 1), np.diff(bounds)), ts, v
        )
        keep, row_key, row_s, row_v, row_bounds = [], [], [], [], [0]
        for j, s in enumerate(states):
            wins = {w: p for w, p in s[0]} if s is not None else {}
            max_ts = s[1] if s is not None else -(1 << 62)
            for w, p in parts.get(j, {}).items():
                wins[w] = _merge(wins[w], p) if w in wins else p
            max_ts = max(max_ts, int(ts[bounds[j + 1] - 1]))
            # finalize sealed windows in start order
            for w in sorted(w for w in wins if w + period_us <= max_ts):
                row_key.append(j)
                row_s.append(w)
                row_v.append(_final(wins.pop(w)))
            row_bounds.append(len(row_s))
            keep.append([[[w, p] for w, p in wins.items()], max_ts])
        tms = np.array(row_s, dtype=np.int64)
        if agg == "count":
            vcol = np.array(row_v, dtype=np.int64)
        else:
            # None (empty mean / n<=1 stddev) → NaN so level predicates
            # compare False, matching NULL semantics
            vcol = np.array(
                [np.nan if x is None else x for x in row_v], dtype=float
            )
        first = bounds[:-1][np.array(row_key, dtype=np.int64)]
        rows = pd.DataFrame({
            time_col: pd.to_datetime(tms, unit="us"),
            **{d: pdf[d].to_numpy()[first] for d in dims},
            out_col: vcol,
        })
        # emitted window rows' event time = window start
        out, alerts = alert(
            rows, np.array(row_bounds),
            [s[2:] if s is not None else None for s in states], tms,
        )
        return out, [k + a for k, a in zip(keep, alerts)]

    return _bucketed_state(df, dims, [time_col, *tiebreak], out_schema, step)


def state_count_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    cond: str,
    as_: str = "state_count",
    tiebreak: Sequence[str] = (),
    idle_timeout: str | float | None = None,
) -> DataFrame:
    """Streaming stateCount (/root/reference/state_tracking.go:153-189):
    consecutive-true counter surviving micro-batch boundaries; -1 when
    false. State per group: one int64. ``idle_timeout``: event-time
    DeleteGroup (see alert_stream) — requires an upstream watermark."""
    c_df = df.withColumn(
        "__ok", F.expr(cond) if isinstance(cond, str) else cond
    )
    out_schema = StructType(
        [c_df.schema[c] for c in df.columns] + [StructField(as_, LongType())]
    )
    state_schema = StructType([StructField("streak", LongType())])
    in_cols = list(df.columns)
    timeout_ms = (
        round(parse_duration(idle_timeout) * 1000) if idle_timeout is not None else None
    )

    def machine(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if timeout_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=in_cols + [as_])
            return
        streak = state.get[0] if state.exists else 0
        max_event_ms = None
        for pdf in pdfs:
            pdf = pdf.sort_values([time_col, *tiebreak], kind="stable")
            if timeout_ms is not None and len(pdf):
                ms = int(pd.Timestamp(pdf[time_col].iloc[-1]).value // 1_000_000)
                max_event_ms = ms if max_event_ms is None else max(max_event_ms, ms)
            ok = pdf["__ok"].fillna(False).to_numpy()
            # vectorized streak: reset indices mark False rows; streak =
            # running count since last False, seeded by the carried streak
            n = len(ok)
            idx = np.arange(n)
            reset = np.where(~ok, idx, -1)
            last_reset = np.maximum.accumulate(reset)
            out = idx - last_reset
            seen_reset = last_reset >= 0
            # before any reset, out = i+1 already (idx - (-1)); add carry
            out = np.where(seen_reset, out, out + streak)
            out = np.where(ok, out, -1)
            streak = int(out[-1]) if n and out[-1] > 0 else (0 if n else streak)
            pdf = pdf[in_cols].copy()
            pdf[as_] = out
            yield pdf
        state.update((int(streak),))
        if timeout_ms is not None and max_event_ms is not None:
            state.setTimeoutTimestamp(max_event_ms + timeout_ms)

    return c_df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if idle_timeout is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def state_duration_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    cond: str,
    unit: str | float = "1s",
    as_: str = "state_duration",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming stateDuration (/root/reference/state_tracking.go:111-152):
    event time since the current true-state began, in ``unit``s (0 at the
    state's first point); -1 while false. State per group: the episode's
    start time (one int64) — it survives micro-batch boundaries, so a
    state entered in one batch keeps accruing duration in the next."""
    c_df = df.withColumn(
        "__ok", F.expr(cond) if isinstance(cond, str) else cond
    )
    out_schema = StructType(
        [c_df.schema[c] for c in df.columns] + [StructField(as_, DoubleType())]
    )
    state_schema = StructType([StructField("start_us", LongType())])
    unit_us = float(round(parse_duration(unit) * 1_000_000))
    tcol, tb = time_col, list(tiebreak)
    in_cols = list(df.columns)

    def machine(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        start = state.get[0] if state.exists else -1
        for pdf in pdfs:
            pdf = pdf.sort_values([tcol, *tb], kind="stable")
            ok = pdf["__ok"].fillna(False).to_numpy()
            t = pdf[tcol].to_numpy(dtype="datetime64[us]").astype("int64")
            n = len(ok)
            idx = np.arange(n)
            # first index of each true-run; rows before any in-batch reset
            # belong to the carried episode (if one is open)
            reset = np.where(~ok, idx, -1)
            last_reset = np.maximum.accumulate(reset)
            run_first = np.clip(last_reset + 1, 0, max(n - 1, 0))
            starts = t[run_first]
            if start >= 0:
                starts = np.where(last_reset < 0, start, starts)
            dur = np.where(ok, (t - starts) / unit_us, -1.0)
            out = pdf[in_cols].copy()
            out[as_] = dur
            yield out
            if n:
                start = int(starts[-1]) if ok[-1] else -1
        state.update((int(start),))

    return c_df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sigma_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fld: str,
    as_: str = "sigma",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming stateful ``sigma()`` lambda fn (/root/reference/tick/
    stateful/functions.go sigma: running #stddevs of the current value
    from the running mean; 0 while n<2). Batch mode compiles to running
    window aggregates (Pipeline.sigma); here the running (n, mean, M2)
    Welford state persists across micro-batches — numerically stable,
    12 bytes of state per group, vectorized per batch."""
    out_schema = StructType(
        [df.schema[c] for c in df.columns] + [StructField(as_, DoubleType())]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mean", DoubleType()),
            StructField("m2", DoubleType()),
        ]
    )
    in_cols = list(df.columns)

    def machine(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdfs:
            pdf = pdf.sort_values([time_col, *tiebreak], kind="stable")
            x = pdf[fld].to_numpy(dtype=float)
            k = len(x)
            # vectorized Welford: running means/M2 over (carry + batch)
            # reconstructed from cumulative sums seeded with carry stats
            cnt = n + np.arange(1, k + 1, dtype=float)
            csum = n * mean + np.cumsum(x)
            means = csum / cnt
            prev_means = np.concatenate(([mean], means[:-1]))
            dm2 = (x - prev_means) * (x - means)
            m2s = m2 + np.cumsum(dm2)
            with np.errstate(divide="ignore", invalid="ignore"):
                sd = np.sqrt(m2s / np.maximum(cnt - 1, 1))
                sig = np.abs(x - means) / sd
            sig = np.where((cnt < 2) | (sd == 0) | ~np.isfinite(sig), 0.0, sig)
            out = pdf[in_cols].copy()
            out[as_] = sig
            yield out
            if k:
                n, mean, m2 = int(cnt[-1]), float(means[-1]), float(m2s[-1])
        state.update((n, mean, m2))

    return df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def autoscale_stream(
    df: DataFrame,
    time_col: str,
    autoscaler,
    replicas: str,
    min: int = 1,
    max: int = 0,
    increase_cooldown: str | float = 0.0,
    decrease_cooldown: str | float = 0.0,
    initial: dict | None = None,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming autoscale decision machine — the reference's live mode
    (/root/reference/autoscale.go:181-283): per-RESOURCE keyed state
    (current replicas + per-direction cooldown clocks) surviving
    micro-batch boundaries; emits (time, resource, old, new) event rows.

    This returns the DECISION stream only. Route it to your sink to make
    the orchestrator calls — e.g. ``sinks.stream_sink(events, handler,
    checkpoint)`` or a foreachBatch that collects the (tiny) batch and
    calls ``autoscaler.set_replicas(row.resource, row.new)`` per event —
    the same driver-side seam as the batch operator; executors never
    hold a client, and ``autoscaler.stats`` only advances in the sink
    you wire.

    ``initial``: resource → current replicas, prefetched on the DRIVER at
    stream compile (the reference calls ``Replicas(id)`` lazily mid-stream
    — impossible from an executor, the one documented divergence). A
    resource absent from ``initial`` initializes from its first clamped
    desired value WITHOUT emitting an event.
    """
    if min < 1:
        raise ValueError(f"minimum count must be >= 1, got {min}")
    init = dict(initial or {})
    lo, hi = int(min), int(max)
    inc_us = round(parse_duration(increase_cooldown) * 1_000_000)
    dec_us = round(parse_duration(decrease_cooldown) * 1_000_000)
    work = df.withColumn("__rid", autoscaler.resource_id_column()).filter(
        F.col("__rid").isNotNull() & (F.col("__rid") != "")
    )
    work = work.withColumn(
        "__want",
        (F.expr(replicas) if isinstance(replicas, str) else replicas).cast("long"),
    )
    out_schema = StructType(
        [
            StructField(time_col, work.schema[time_col].dataType),
            StructField("resource", StringType()),
            StructField("old", LongType()),
            StructField("new", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("has_cur", LongType()),
            StructField("current", LongType()),
            StructField("last_inc", LongType()),
            StructField("last_dec", LongType()),
        ]
    )
    tcol, tb = time_col, list(tiebreak)

    from kapacitor_spark.operators.autoscale import NEVER, decision_step

    def machine(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        rid = key[0]
        if state.exists:
            has_cur, current, last_inc, last_dec = state.get
        else:
            if rid in init:
                has_cur, current = 1, int(init[rid])
            else:
                has_cur, current = 0, 0
            last_inc = last_dec = NEVER
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values([tcol, *tb], kind="stable")
            want = pdf["__want"].to_numpy(dtype=object)
            times = pdf[tcol].to_numpy(dtype="datetime64[us]").astype("int64")
            for i in range(len(pdf)):
                w = want[i]
                if w is None or pd.isna(w):
                    continue
                if not has_cur:
                    # unknown resource: first CLAMPED value seeds state
                    # (reuse the step with current == the clamped value)
                    _, _, _, _, seeded = decision_step(
                        -1, w, lo, hi, 0, NEVER, NEVER, 0, 0
                    )
                    has_cur, current = 1, seeded
                    continue
                old = current
                action, current, last_inc, last_dec, new = decision_step(
                    current, w, lo, hi, int(times[i]),
                    last_inc, last_dec, inc_us, dec_us,
                )
                if action in ("inc", "dec"):
                    rows.append((pdf[tcol].iat[i], rid, old, new))
        state.update((has_cur, current, last_inc, last_dec))
        cols = [f.name for f in out_schema.fields]
        yield pd.DataFrame(rows, columns=cols)

    return work.groupBy("__rid").applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ordered_transform_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fld: str,
    op: str = "derivative",
    unit: str | float = "1s",
    as_: str | None = None,
    non_negative: bool = False,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming derivative/difference/elapsed/cumulativeSum — the
    readStream compile targets of the per-point ordered transforms
    (/root/reference/derivative.go:127-170, pipeline/influxql.go:493-584).

    Keyed state carries exactly (last event time, last value, running
    sum) per group — the previous-point memory the reference's per-group
    receiver holds — so the transform spans micro-batch boundaries.
    Batch-mode parity: the first point per group is dropped (except
    cumulativeSum), zero-elapsed derivative points emit nothing but still
    advance prev, nonNegative drops negative rates. All arithmetic is
    numpy over the Arrow batch; state is 3 scalars per group.
    """
    if op not in ("derivative", "difference", "elapsed", "cumulative_sum"):
        raise ValueError(f"unknown ordered op {op!r}")
    unit_us = round(parse_duration(unit) * 1_000_000)
    out = as_ or ("elapsed" if op == "elapsed" else fld)
    out_type = LongType() if op == "elapsed" else DoubleType()
    base = [df.schema[c] for c in df.columns if c != out]
    out_schema = StructType(base + [StructField(out, out_type)])
    schema_cols = [f.name for f in out_schema]
    state_schema = StructType(
        [
            StructField("has_prev", LongType()),
            StructField("last_t", LongType()),
            StructField("last_v", DoubleType()),
            StructField("run_sum", DoubleType()),
        ]
    )
    tcol, tb = time_col, list(tiebreak)

    def machine(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        has_prev, last_t, last_v, run_sum = (
            state.get if state.exists else (0, 0, 0.0, 0.0)
        )
        for pdf in pdfs:
            pdf = pdf.sort_values([tcol, *tb], kind="stable")
            x = pdf[fld].to_numpy(dtype=float)
            k = len(x)
            if k == 0:
                continue
            if op == "cumulative_sum":
                res = pdf.copy()
                res[out] = run_sum + np.cumsum(x)
                run_sum = float(res[out].iloc[-1])
                yield res[schema_cols]
                continue
            t = pdf[tcol].to_numpy(dtype="datetime64[us]").astype("int64")
            pt = np.concatenate(([last_t], t))
            pv = np.concatenate(([last_v], x))
            dv = np.diff(pv)
            dt = np.diff(pt)
            keep = np.ones(k, dtype=bool)
            if not has_prev:
                keep[0] = False
            if op == "derivative":
                with np.errstate(divide="ignore", invalid="ignore"):
                    vals = dv / (dt / float(unit_us))
                keep &= dt != 0  # zero elapsed: emit nothing, advance prev
                if non_negative:
                    keep &= ~(vals < 0)
            elif op == "difference":
                vals = dv
            else:  # elapsed
                vals = dt // unit_us
            res = pdf.copy()
            res[out] = vals
            yield res.loc[keep, schema_cols]
            has_prev, last_t, last_v = 1, int(t[-1]), float(x[-1])
        state.update((has_prev, last_t, last_v, run_sum))

    return df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def combine_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    predicates: Sequence,
    pred_keys: Sequence[str],
    as_: Sequence[str],
    tolerance: str | float | None = None,
    delimiter: str = "_",
) -> DataFrame:
    """Streaming ``combine()`` — k-combinations of points sharing a
    (group, rounded-time) bucket (/root/reference/combine.go:142-286).

    The batch compile expresses this as iterated equi-joins; chained
    stream-stream self-joins would multiply join state, so the streaming
    form buckets ONCE (a single streaming aggregation:
    ``collect_list`` per (bucket, group) — the reference's own per-bucket
    buffer) and generates the combinations DECLARATIVELY: per-slot
    ``filter`` arrays, a nested-``transform`` cross product, the
    reference's identity rules (strict ``id <`` between same-predicate
    slots, ``!=`` between distinct ones — combine.go:201-246), then one
    explode. All JVM-side; no Python in the plan.

    ``predicates``: slot Columns evaluated on the RAW points (before the
    aggregation, so Catalyst codegens them on the scan). ``pred_keys``:
    stable per-slot strings — equal keys mean same-predicate slots.
    Blowup is bounded by the product of per-bucket slot-match counts,
    exactly the reference's exposure. Drive with a watermark upstream
    (append) or a complete-mode replay sink."""
    n = len(predicates)
    if n < 2 or len(as_) != n:
        raise ValueError("combine_stream needs >=2 slots and matching as_")
    us = round(parse_duration(tolerance) * 1_000_000) if tolerance else None
    t_us = F.unix_micros(F.col(time_col))
    if us:
        # Go Time.Round to the nearest multiple (combine.go:118)
        um = t_us + F.lit(us // 2)
        bucket = um - um % F.lit(us)
    else:
        bucket = t_us
    ident = F.struct(
        t_us.alias("t"),
        F.xxhash64(*[F.col(c) for c in df.columns]).alias("h"),
    )
    fields = [c for c in df.columns if c != time_col and c not in dims]
    base = df.withColumn("__ct", bucket).withColumn("__id", ident)
    for i, p in enumerate(predicates):
        base = base.withColumn(f"__m{i}", p)
    pt = F.struct(
        F.col("__id"),
        *[F.col(f"__m{i}") for i in range(n)],
        *[F.col(c) for c in fields],
    )
    agg = base.groupBy(F.col("__ct"), *[F.col(d) for d in dims]).agg(
        F.collect_list(pt).alias("__pts")
    )
    # per-slot arrays, then a nested-transform cross product
    slots = ", ".join(
        f"filter(__pts, x -> x.__m{i})" for i in range(n)
    )
    inner = "struct(" + ", ".join(f"x{i} AS s{i}" for i in range(n)) + ")"
    e = inner
    for i in reversed(range(n)):
        e = f"transform(__slots[{i}], x{i} -> {e})"
        if i != n - 1:
            e = f"flatten({e})"
    conds = []
    for i in range(n):
        for j in range(i + 1, n):
            op = "<" if pred_keys[i] == pred_keys[j] else "!="
            conds.append(f"c.s{i}.__id {op} c.s{j}.__id")
    combos = f"filter({e}, c -> {' AND '.join(conds)})"
    out = (
        agg.withColumn("__slots", F.expr(f"array({slots})"))
        .withColumn("__c", F.explode(F.expr(combos)))
    )
    sel = [F.timestamp_micros(F.col("__ct")).alias(time_col)]
    sel += [F.col(d) for d in dims]
    for i, name in enumerate(as_):
        for c in fields:
            sel.append(
                F.col(f"__c.s{i}.{c}").alias(f"{name}{delimiter}{c}")
            )
    return out.select(*sel)


def sample_count_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    n: int,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming ``sample(N)`` — keep every Nth point per group
    (/root/reference/sample.go:97-110: counter % N == 0). The counter is
    keyed state (one int64 per group) so the cadence spans micro-batch
    boundaries, exactly the per-group counter the reference's sample
    node holds. Batch parity: Pipeline.sample(n=) keeps row_number-1 %
    n == 0 over the event order — the streaming counter starts at 0 and
    keeps positions 0, N, 2N, … per group, identical on identical
    input. State: one scalar; parallel across groups."""
    if n <= 0:
        raise ValueError("sample_count_stream: n must be >= 1")
    out_schema = df.schema
    schema_cols = [f.name for f in out_schema]
    state_schema = StructType([StructField("cnt", LongType())])
    tcol, tb = time_col, list(tiebreak)

    def machine(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values([tcol, *tb], kind="stable")
            keep = (cnt + np.arange(len(pdf))) % n == 0
            cnt += len(pdf)
            yield pdf.loc[keep, schema_cols]
        state.update((int(cnt),))

    return df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def change_detect_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fields: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Streaming changeDetect (/root/reference/change_detect.go:110-140):
    drop points whose monitored fields ALL equal the previous point's —
    the previous point's values persist across micro-batches in keyed
    state. Matches the batch form (Pipeline.change_detect) row for row:
    a NULL previous value keeps the point; value→NULL keeps; NULL→NULL
    under a non-NULL lag chain follows the same lag rules. Values
    compare via their canonical reprs (exact for the point model's
    float/int/string/bool types, and a mid-stream TYPE change — the
    reference's Changing_Type golden — always differs)."""
    import json

    in_cols = list(df.columns)
    out_schema = StructType([df.schema[c] for c in in_cols])
    state_schema = StructType([StructField("prev", StringType())])
    tcol, tb = time_col, list(tiebreak)
    flds = list(fields)

    def key(v):
        return None if pd.isna(v) else repr(v)

    def machine(key_, pdfs: Iterator[pd.DataFrame], state: GroupState):
        prev = json.loads(state.get[0]) if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values([tcol, *tb], kind="stable")
            n = len(pdf)
            if n == 0:
                continue
            keep = np.zeros(n, dtype=bool)
            for f_ in flds:
                ks = [key(v) for v in pdf[f_]]
                pk = [prev[f_] if prev is not None else "\x00missing"] + ks[:-1]
                # batch rule per field: lag NULL -> keep; changed -> keep;
                # went NULL while lag wasn't -> keep. "\x00missing" marks
                # NO previous point at all (first ever row: keep).
                for i in range(n):
                    p = pk[i]
                    if p == "\x00missing" or p is None:
                        keep[i] = True
                    elif ks[i] is None or ks[i] != p:
                        keep[i] = True
            prev = {f_: key(pdf[f_].iloc[-1]) for f_ in flds}
            yield pdf.loc[keep, in_cols]
        if prev is not None:
            state.update((json.dumps(prev),))

    return df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def join_stream(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    dims: Sequence[str],
    tolerance: str | float,
    watermark: str | float = "1h",
    prefixes: tuple[str, str] = ("a", "b"),
    delimiter: str = "_",
    on: Sequence[str] | None = None,
    fill=None,
    left_dims: Sequence[str] | None = None,
    right_dims: Sequence[str] | None = None,
) -> DataFrame:
    """Streaming tolerance join — the readStream compile target of
    join().tolerance() (/root/reference/join.go; SURVEY §2.3 "Streaming:
    stream-stream join with watermark").

    Both sides are watermarked and keyed on the tolerance bucket computed
    as a tumbling window over (time + tolerance/2) — i.e. Go Time.Round
    buckets, same as the batch join — plus the shared dims. Joining on
    the window STRUCT lets Spark's state store GC matched buckets once
    both watermarks pass (no unbounded join state, the reference's
    low-watermark eviction, join.go:137-310).

    ``on=[dims]`` joins on a dim SUBSET (the coarse-parent/fine-child
    one-to-many shape, /root/reference/pipeline/join.go:204-236): join
    keys become (bucket, on-dims); each side's remaining dims pass
    through unprefixed — overlapping non-key dims raise, like the batch
    join. ``fill`` (r11 2nd wave, pipeline/join.go Fill): None/'none' →
    inner; 'null' → FULL OUTER (Spark supports outer stream-stream joins
    on a time-window equality key — unmatched rows emit once both
    watermarks pass the bucket, so pick ``watermark`` accordingly);
    scalar → outer + constant fill; dict → outer + per-column fill,
    keyed by prefixed output names.

    Divergence (documented): within one (bucket, dims) cell a
    stream-stream join emits the cross product of that cell; the batch
    join pairs sequentially. Pre-aggregate per bucket or include a
    sequence column in ``dims`` when cells can hold >1 row per side.
    """
    half_us = round(parse_duration(tolerance) * 1_000_000) // 2
    iv = to_interval(tolerance)
    ld = list(left_dims) if left_dims is not None else list(dims)
    rd = list(right_dims) if right_dims is not None else list(dims)
    keys = list(on) if on is not None else [d for d in ld if d in rd]
    overlap = (set(ld) & set(rd)) - set(keys)
    if overlap:
        raise ValueError(
            f"join_stream: dims {sorted(overlap)} exist on both sides but "
            "are not join keys; add them to on=[...] or drop them from "
            "one side"
        )

    def keyed(df: DataFrame, p: str, side_dims: list) -> DataFrame:
        shifted = F.timestamp_micros(F.unix_micros(F.col(time_col)) + F.lit(half_us))
        # watermark the SHIFTED column and window over it: the window
        # struct then carries the watermark, which outer stream-stream
        # joins require ON the join key (and which lets inner-join state
        # GC buckets the watermark has passed)
        out = (
            df.withColumn("__st", shifted)
            .withWatermark("__st", to_interval(watermark))
            .withColumn("__jw", F.window(F.col("__st"), iv))
        )
        cols = [F.col("__jw"), *[F.col(d) for d in keys]]
        # non-key dims pass through unprefixed (batch join parity)
        cols += [F.col(d) for d in side_dims if d not in keys]
        for c in df.columns:
            if c in side_dims or c in keys:
                continue
            cols.append(F.col(c).alias(f"{p}{delimiter}{c}"))
        return out.select(*cols)

    lp, rp = prefixes
    outer = fill is not None and fill != "none"
    joined = keyed(left, lp, ld).join(
        keyed(right, rp, rd), ["__jw", *keys],
        "full_outer" if outer else "inner",
    )
    if outer and fill != "null":
        if isinstance(fill, dict):
            fills = [(c, v) for c, v in fill.items() if c in joined.columns]
        else:
            fills = [
                (c, fill) for c in joined.columns
                if c != "__jw" and c not in keys
            ]
        # batch-join parity (pipeline.py join): fill only columns whose
        # type matches the fill value's kind — timestamps and mismatched
        # types stay NULL
        dtypes = dict(joined.dtypes)
        numeric = ("tinyint", "smallint", "int", "bigint",
                   "float", "double", "decimal")
        for c, v in fills:
            t = dtypes.get(c, "")
            if isinstance(v, bool):
                ok = t == "boolean"
            elif isinstance(v, (int, float)):
                ok = t.startswith(numeric)
            else:
                ok = isinstance(v, str) and t == "string"
            if ok:
                joined = joined.withColumn(
                    c, F.coalesce(F.col(f"`{c}`"), F.lit(v))
                )
    # the tumbling window over (t + tol/2) starts exactly at the Round
    # multiple, so the window start IS the bucket label
    return joined.withColumn(time_col, F.col("__jw.start")).drop("__jw")


def window_count_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fld: str,
    period_count: int,
    every_count: int = 1,
    agg: str = "mean",
    as_: str = "value",
    tiebreak: Sequence[str] = (),
    full_only: bool = False,
) -> DataFrame:
    """Streaming count window (/root/reference/window.go:360-470): per
    group, a ring of the last ``period_count`` values persists across
    micro-batches; every ``every_count``-th point emits the aggregate of
    the ring. every_count=1 is the reference's every-point emission mode
    (window.go every=0 analog). State per group: ≤ period_count doubles.

    ``full_only``: suppress emission until the group has seen
    ``period_count`` points — the movingAverage warm-up drop
    (/root/reference/pipeline/influxql.go:536: emit after window full);
    window().fillPeriod() for count windows is the same gate."""
    if agg not in ("mean", "sum", "count", "min", "max"):
        raise ValueError(f"unsupported count-window agg {agg!r}")
    out_schema = StructType(
        [df.schema[time_col]]
        + [df.schema[d] for d in dims]
        + [StructField(as_, DoubleType())]
    )
    state_schema = StructType(
        [StructField("ring", StringType()), StructField("since_emit", LongType())]
    )

    def machine(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        # Vectorized: concatenate (carry ring + batch values) and compute
        # every trailing-window aggregate with numpy — cumsum prefix sums
        # for sum/mean/count, a sliding_window_view (front-padded with
        # identity values, so warm-up windows < period_count are exact)
        # for min/max. No per-row Python.
        if state.exists:
            ring_csv, since = state.get
            carry = (
                np.array(ring_csv.split(","), dtype=float)
                if ring_csv
                else np.empty(0)
            )
            since = int(since)
        else:
            carry, since = np.empty(0), 0
        for pdf in pdfs:
            pdf = pdf.sort_values([time_col, *tiebreak], kind="stable")
            vals = pdf[fld].to_numpy(dtype=float)
            out, emit, (carry,), (since,) = _count_window_step(
                [carry], [since], vals, np.array([0, len(vals)]),
                period_count, every_count, agg, full_only,
            )
            res = pdf.loc[emit, [time_col, *dims]].copy()
            res[as_] = out[emit]
            yield res
        state.update((",".join(repr(x) for x in carry), since))

    return df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        machine,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def window_count_alert_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    fld: str,
    period_count: int,
    every_count: int = 1,
    agg: str = "mean",
    as_: str = "value",
    crit=None,
    warn=None,
    info=None,
    crit_reset=None,
    warn_reset=None,
    info_reset=None,
    state_changes_only: bool = False,
    events_only: bool = False,
    max_interval: str | float | None = None,
    no_recoveries: bool = False,
    flapping: tuple[float, float] | None = None,
    history: int = 21,
    tiebreak: Sequence[str] = (),
    duration_field: str | None = None,
    full_only: bool = False,
) -> DataFrame:
    """FUSED ``window().periodCount(n).everyCount(m) |agg |alert()`` with
    stateful alert knobs — ONE keyed state operator, the count-window
    sibling of window_alert_stream (same reason: Spark forbids chaining
    two keyed-state operators, and the reference's own execution shape IS
    a per-group window buffer feeding the in-process alert machine,
    /root/reference/window.go:360-470 + alert.go:989-1290).

    The ring stage is window_count_stream's vectorized trailing-window
    computation (cumsum prefix sums / sliding_window_view — no per-row
    Python), run over a whole hash bucket at once; the rows passing the
    every_count emission gate (the batch compile's
    ``row_number % every == 0`` rows, pipeline.py agg_over) feed
    determine_levels/walk_levels with level state carried across
    micro-batches. Emitted rows keep the triggering point's event time,
    exactly like the batch replay. State per group: ≤ period_count
    doubles + the alert ring — bytes in its hash bucket's dict, safe at
    millions of groups."""
    if agg not in ("mean", "sum", "count", "min", "max"):
        raise ValueError(f"unsupported count-window agg {agg!r}")
    # ungrouped: one synthetic group (serial at this stage, like the
    # reference's ungrouped stream task) — see window_alert_stream

    alert = _pandas_alert(
        time_col, {1: info, 2: warn, 3: crit},
        {1: info_reset, 2: warn_reset, 3: crit_reset}, duration_field,
        state_changes_only=state_changes_only, events_only=events_only,
        no_recoveries=no_recoveries, flapping=flapping, history=history,
        max_interval=max_interval,
    )
    out_schema = StructType(
        [df.schema[time_col]]
        + [df.schema[d] for d in dims]
        + [StructField(as_, DoubleType()), StructField("level", StringType())]
        + ([StructField(duration_field, LongType())] if duration_field else [])
    )

    def step(pdf, bounds, states):
        # key state: [ring values, points since the last emission,
        # *alert walk state]
        out, gate, rings, sinces = _count_window_step(
            [np.asarray(s[0] if s is not None else (), dtype=float)
             for s in states],
            [s[1] if s is not None else 0 for s in states],
            pdf[fld].to_numpy(dtype=float), bounds,
            period_count, every_count, agg, full_only,
        )
        gi = np.flatnonzero(gate)
        rows = pdf[[time_col, *dims]].iloc[gi].reset_index(drop=True)
        rows[as_] = out[gi]
        out, alerts = alert(
            rows, np.searchsorted(gi, bounds),
            [s[2:] if s is not None else None for s in states],
            rows[time_col].to_numpy(dtype="datetime64[us]").astype(np.int64),
        )
        return out, [
            [c.tolist(), s, *a] for c, s, a in zip(rings, sinces, alerts)
        ]

    return _bucketed_state(df, dims, [time_col, *tiebreak], out_schema, step)


_RUN_AVAILABLE_NOW_LOCK = threading.Lock()


def run_available_now(
    stream_df: DataFrame,
    name: str,
    checkpoint: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming query over all currently-available input and
    return the result as a (batch) DataFrame from the memory sink — the
    test-harness analog of the reference replay runner
    (/root/reference/replay.go:17-110): deterministic, event-time driven,
    no wall clock.

    ``output_mode='complete'`` for windowed aggregations without a
    watermark (the replay equivalent of "emit everything at end of
    stream"); 'append' for stateful applyInPandasWithState operators,
    which emit per micro-batch.

    ``state_partitions``: partition count for the query's STATEFUL
    operators (fixed for the checkpoint's lifetime by the first batch
    from ``spark.sql.shuffle.partitions``). Size it to STATE CARDINALITY,
    not cluster width: every state partition pays a per-batch commit
    (delta-file create + fsync + rename in the HDFS-backed provider) and,
    for applyInPandasWithState, a Python worker round-trip — measured on
    this engine's replay shape: addBatch 868 ms at 32 partitions vs
    320 ms at 4 for an identical 3600-key aggregation (~17 ms per
    partition per batch of pure commit overhead). Keys-per-partition
    around ~1000+ keeps that overhead marginal; a high-cardinality
    deployment raises it accordingly (more keys → more partitions, up to
    cluster parallelism — never fewer than the cluster can usefully run
    when per-partition state or throughput is the constraint). ``None``
    (default) leaves the session setting untouched. Results are
    partition-count independent: state is keyed, aggregation merge is
    associative/commutative, and per-key ordering is event-time driven.
    The session conf is pinned only for this (blocking) run and restored
    after."""
    spark = stream_df.sparkSession
    prev_parts: str | None = None
    # Serialize replays (ADVICE r11): the pinned shuffle-partitions value
    # is session-wide while this blocking run plans its first batch, so a
    # concurrently started query would silently inherit it (and two
    # interleaved pinned runs could restore a stale value). The lock makes
    # the pin run-scoped; unpinned runs take it too so they can never
    # start inside another run's pin window.
    with _RUN_AVAILABLE_NOW_LOCK:
        if state_partitions is not None:
            prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(int(state_partitions))
            )
        try:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev_parts is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return stream_df.sparkSession.table(name)


def deadman_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    interval: str | float,
    threshold: float = 0.0,
    max_silent_intervals: int | None = None,
) -> DataFrame:
    """WALL-CLOCK deadman (/root/reference/stats.go: "Emit stats every
    interval. Stats are REAL-TIME not data-time" + the deadman macro,
    pipeline/node.go Deadman): per group, once ``interval`` of
    PROCESSING time passes without data, emit (dims..., emitted, level)
    — CRITICAL when the count since the last tick is <= threshold — and
    keep ticking every interval while the silence lasts. Unlike the
    event-time deadman (Pipeline.deadman / stats.py), a FULLY SILENT
    group still fires: the group's ProcessingTimeTimeout triggers on an
    empty micro-batch (spark.sql.streaming.noDataMicroBatches keeps
    batches running), so a stopped stream raises CRITICAL after one
    interval — the reference's wall-clock semantics, which event-time
    watermarks cannot express (documented divergence in MIGRATION.md;
    availableNow replays should keep using Pipeline.deadman).

    ``max_silent_intervals``: after this many consecutive silent ticks
    the group's state is REMOVED (the reference's barrier().delete() /
    DeleteGroup analog) — without it, every host that ever reported and
    then vanished forever would alert forever and hold state forever;
    with it, a departed group alerts for the grace window and is then
    garbage-collected (it re-registers on its next point).

    State per group: a running count + silent-tick counter (24 bytes) —
    safe at millions of groups; emission volume is groups/interval,
    independent of data rate."""
    interval_ms = round(parse_duration(interval) * 1000)
    out_schema = StructType(
        [df.schema[d] for d in dims]
        + [StructField("emitted", LongType()), StructField("level", StringType())]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("silent", LongType())]
    )

    def walk(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            n, silent = state.get
            level = "CRITICAL" if n <= threshold else "OK"
            silent = silent + 1 if n <= threshold else 0
            if max_silent_intervals is not None and silent >= max_silent_intervals:
                # departed group: grace window exhausted — GC its state
                # (it re-registers on its next point, like DeleteGroup)
                state.remove()
            else:
                state.update((0, silent))
                state.setTimeoutDuration(interval_ms)
            yield pd.DataFrame(
                [[*key, n, level]],
                columns=[*dims, "emitted", "level"],
            )
        else:
            n, silent = state.get if state.exists else (0, 0)
            fresh = 0
            for pdf in pdfs:
                fresh += len(pdf)
            # Spark clears a key's timeout on every invocation, so it is
            # re-armed here: the timer therefore fires after ``interval``
            # of SILENCE (classic deadman), and keeps firing each interval
            # while the group stays silent (re-armed in the timeout branch)
            state.setTimeoutDuration(interval_ms)
            state.update((n + fresh, 0))
            yield pd.DataFrame(columns=[*dims, "emitted", "level"]).astype(
                {"emitted": "int64"}
            )

    return df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        walk,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stats_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    interval: str | float,
) -> DataFrame:
    """WALL-CLOCK stats() (/root/reference/stats.go: "Emit stats every
    interval. Stats are REAL-TIME not data-time"): per group, one
    (dims..., emitted) row every ``interval`` of processing time — under
    steady traffic AND through silence (emitted=0), exactly the
    reference's ticker.

    Spark clears a key's processing-time timer on every invocation, so a
    steady ticker needs the ABSOLUTE next-tick time in state: data
    batches re-arm the timer with the REMAINING duration (next_tick -
    now) instead of a full interval; the timeout branch emits, advances
    next_tick by one interval, and re-arms. deadman_stream is the
    silence-only variant (its timer resets on data)."""
    import time as _time

    interval_ms = round(parse_duration(interval) * 1000)
    out_schema = StructType(
        [df.schema[d] for d in dims] + [StructField("emitted", LongType())]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("next_tick_ms", LongType())]
    )

    def walk(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        now_ms = int(_time.time() * 1000)
        if state.hasTimedOut:
            n, next_tick = state.get
            state.update((0, next_tick + interval_ms))
            state.setTimeoutDuration(max(next_tick + interval_ms - now_ms, 1))
            yield pd.DataFrame([[*key, n]], columns=[*dims, "emitted"])
        else:
            if state.exists:
                n, next_tick = state.get
            else:
                n, next_tick = 0, now_ms + interval_ms
            fresh = 0
            for pdf in pdfs:
                fresh += len(pdf)
            state.update((n + fresh, next_tick))
            state.setTimeoutDuration(max(next_tick - now_ms, 1))
            yield pd.DataFrame(columns=[*dims, "emitted"]).astype(
                {"emitted": "int64"}
            )

    return df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        walk,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def window_barrier_stream(
    df: DataFrame,
    time_col: str,
    dims: Sequence[str],
    period: str | float,
    every: str | float | None = None,
    barrier_interval: str | float = "10s",
    mode: str = "idle",
    value_col: str = "value",
) -> DataFrame:
    """Windowed counts whose pending windows are FORCE-EMITTED by a
    processing-time barrier — barrier().idle(d) / barrier().period(d)
    (/root/reference/barrier.go:86-335; goldens TestStream_Barrier_Idle,
    TestStream_Barrier_Idle_No_Data, TestStream_Barrier_Idle_No_Idle,
    TestStream_Barrier_Idle_Replay_After_Idle, TestStream_Barrier_Period,
    TestStream_Barrier_Period_No_Data, TestStream_Barrier_Period_No_Idle,
    TestStream_Barrier_Period_Replay_After_Idle).

    The problem barriers solve: an event-time watermark only advances
    when NEW data arrives, so the last (partial) window of a stalled
    stream never emits. The reference forces emission with wall-clock
    barriers; here the same contract compiles to keyed state + a
    ProcessingTimeTimeout:

    * new data closes every window whose end <= the group's max event
      time (the event-time barrier — same as watermark emission);
    * ``mode='idle'``: ``barrier_interval`` of wall-clock SILENCE closes
      ALL pending windows, partial ones included (idle barrier; the
      timer re-arms on data, so a busy group never force-flushes);
    * ``mode='period'``: the timer fires every ``barrier_interval``
      regardless of data (period barrier) and closes all pending
      windows.

    Emits one row per (dims, window_start): count of buffered points.
    Windows are epoch-aligned [k*every, k*every + period) — the engine's
    documented divergence from the reference's arrival-relative grid.
    State per group: the un-emitted tail of point times (bounded by
    period × rate) + the emit frontier."""
    p_us = round(parse_duration(period) * 1_000_000)
    e_us = round(parse_duration(every if every is not None else period) * 1_000_000)
    b_ms = round(parse_duration(barrier_interval) * 1000)
    if mode not in ("idle", "period"):
        raise ValueError("mode must be 'idle' or 'period'")
    out_schema = StructType(
        [df.schema[d] for d in dims]
        + [
            StructField("window_start", df.schema[time_col].dataType),
            StructField("count", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("times", StringType()),   # comma-joined µs (Arrow-safe)
            StructField("emitted_until", LongType()),  # window starts < this emitted
        ]
    )

    def flush(key, times_us, emitted_until, barrier_us):
        """Emit every window [ws, ws+p) with ws+p <= barrier and ws >=
        emitted_until; return (rows, new_emitted_until, retained)."""
        rows = []
        if times_us:
            first = min(times_us)
            start0 = (first // e_us) * e_us
            ws = max(start0, emitted_until)
            # align ws up to the every-grid
            ws = ((ws + e_us - 1) // e_us) * e_us
            while ws + p_us <= barrier_us:
                n = sum(1 for t in times_us if ws <= t < ws + p_us)
                if n:
                    rows.append((ws, n))
                ws += e_us
            emitted_until = ws
            # a point can still matter while some window containing it is
            # un-emitted: keep t if t + p > emitted_until
            retained = [t for t in times_us if t + p_us > emitted_until]
        else:
            retained = []
        return rows, emitted_until, retained

    def walk(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            stimes, emitted_until = state.get
            times = [int(x) for x in stimes.split(",") if x]
        else:
            times, emitted_until = [], -(2**62)
        out = []
        if state.hasTimedOut:
            # barrier fires: close EVERYTHING pending (partial included)
            if times:
                barrier_us = max(times) + p_us + 1
                rows, emitted_until, times = flush(key, times, emitted_until, barrier_us)
                out.extend(rows)
            if mode == "period":
                state.setTimeoutDuration(b_ms)
            else:
                # idle: stay armed so sustained silence keeps flushing
                # anything a late replay adds
                state.setTimeoutDuration(b_ms)
        else:
            for pdf in pdfs:
                ts = (
                    pdf[time_col].to_numpy(dtype="datetime64[us]").astype("int64")
                )
                times.extend(int(t) for t in ts)
            if times:
                # event-time barrier: newest point closes older windows
                rows, emitted_until, times = flush(
                    key, times, emitted_until, max(times) + 1
                )
                out.extend(rows)
            state.setTimeoutDuration(b_ms)
        state.update((",".join(str(t) for t in times), emitted_until))
        if out:
            yield pd.DataFrame(
                [
                    [*key, pd.Timestamp(ws, unit="us"), n]
                    for ws, n in out
                ],
                columns=[*dims, "window_start", "count"],
            )
        else:
            yield pd.DataFrame(columns=[*dims, "window_start", "count"])

    return df.groupBy(*[F.col(d) for d in dims]).applyInPandasWithState(
        walk,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def http_out_stream(stream_df: DataFrame, name: str, checkpoint: str):
    """httpOut analog for streams (/root/reference/http_out.go): latest
    results queryable under a name via the memory sink; returns the
    StreamingQuery handle."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def simhash_match_stream(
    stream_df: DataFrame,
    history_sig: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_id: str = "history_id",
    persist_static: bool = True,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """CONTINUOUS near-dup detection: match a document stream against a
    corpus signature table — the ingestion-pipeline shape ("is this new
    document a near-duplicate of anything we already hold?") that batch
    near-dup cannot serve without re-scanning the corpus per arrival.

    The SimHash fold (dedup.simhash) is a pure projection, so it runs on
    the unbounded stream as-is; blocking reuses the exact pigeonhole
    banding (dedup.simhash_band_expr) as a STREAM-STATIC equi-join on
    (band, band_val) — supported without watermarks because the static
    side is bounded, and COMPLETE for the Hamming bound, so no
    qualifying match is ever missed. Emits input columns + (history_id,
    hamming), exactly one row per (doc, history doc) pair.

    Exactly-once per pair WITHOUT state: a pair within the bound can
    agree on several bands, which would emit duplicate rows — and
    dropDuplicates on a stream keeps key state forever. Instead each
    row carries both full hashes, so "is this the FIRST agreeing band?"
    is a pure expression (zip_with equality + array_position), and the
    filter keeps exactly that one row per pair. Stateless, no
    watermark, no growing store.

    ``history_sig``: (id, simhash) from dedup.simhash over the corpus —
    persist it; Spark re-reads the static side every micro-batch, and a
    cached 16-bytes-per-doc table turns that into a memory scan. To ALSO
    catch duplicates between in-flight documents, run the batch
    self-join inside foreachBatch (exact within the batch); updating the
    history with accepted arrivals is the caller's foreachBatch append.

    100 TB shape: the stream side moves (id, 8B hash) per band; the
    static side is the corpus's 16B/doc signature table, equi-joined on
    band keys (broadcast when small) once per micro-batch.
    """
    from kapacitor_spark.dataprep.cache import track
    from kapacitor_spark.dataprep.dedup import simhash, simhash_band_expr

    # ``sig_df``: optionally pass the stream side's already-computed
    # (id, simhash, keep...) table to share the fold with another
    # consumer (same seam as dedup.simhash_near_dup's sig_df — a BATCH
    # completeness check that also brute-scans the arrivals otherwise
    # tokenizes + hashes the arriving half twice in one action). The
    # caller guarantees provenance: it must be dedup.simhash over the
    # same rows with the same normalization, carrying every non-id
    # column of ``stream_df``.
    keep = [c for c in stream_df.columns if c != id_col]
    if sig_df is not None:
        # fail fast on a mismatched sig_df (ADVICE r11): a signature table
        # missing stream columns yields wrong matches with no error until
        # (or without) an AnalysisException far from the call site
        missing = [c for c in ("simhash", id_col, *keep) if c not in sig_df.columns]
        if missing:
            raise ValueError(
                f"sig_df must carry 'simhash' plus every stream_df column; "
                f"missing {missing}"
            )
        sig = sig_df
    else:
        sig = simhash(stream_df, text_col, id_col, keep=keep)
    stream_banded = sig.select(
        "*",
        F.posexplode(simhash_band_expr("simhash", max_hamming)).alias(
            "band", "band_val"
        ),
    )
    # identical-signature collapse (r9, same scheme as the batch side):
    # the band join runs against DISTINCT history signatures — an
    # m-duplicate history class previously multiplied every agreeing
    # stream row by m INSIDE the join and re-applied the Hamming +
    # first-band filters per member; now those run once per (arrival,
    # distinct signature) and members re-attach through one output-sized
    # equi-join. Persisted (8 B per distinct signature): the distinct is
    # a shuffle the static side must not re-pay every micro-batch —
    # callers that swap the history table between batches build a fresh
    # plan anyway (the foreachBatch composition below).
    # ``persist_static=False`` for callers that REBUILD the static side
    # every micro-batch (the foreachBatch corpus-update composition): a
    # persisted plan over the same parquet path would be substituted by
    # Spark's CacheManager on canonical-plan match and serve the STALE
    # pre-append file list.
    hist_sigs = history_sig.select(F.col("simhash").alias("__hhash")).distinct()
    if persist_static:
        hist_sigs = track(hist_sigs.persist())
    hist_banded = hist_sigs.select(
        "__hhash",
        F.posexplode(simhash_band_expr("__hhash", max_hamming)).alias(
            "band", "band_val"
        ),
    )
    agree = F.zip_with(
        simhash_band_expr("simhash", max_hamming),
        simhash_band_expr("__hhash", max_hamming),
        lambda a, b: a == b,
    )
    first_agreeing = F.array_position(agree, True) - 1
    matched_sigs = (
        stream_banded.join(hist_banded, ["band", "band_val"])
        .withColumn(
            "hamming", F.bit_count(F.col("simhash").bitwiseXOR(F.col("__hhash")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .filter(F.col("band") == first_agreeing)
    )
    members = history_sig.select(
        F.col(id_col).alias(history_id), F.col("simhash").alias("__hhash")
    )
    matched = matched_sigs.join(members, "__hhash")
    return matched.select(*stream_df.columns, history_id, "hamming")


def simhash_ingest_foreachbatch(
    history_path: str,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_id: str = "history_id",
    matches_path: str | None = None,
):
    """The corpus-UPDATE composition simhash_match_stream's docstring
    assigns to the caller, packaged: a ``foreachBatch`` function that,
    per micro-batch, (1) matches arrivals against the CURRENT history
    signature table — parquet at ``history_path``, re-read every batch
    so earlier batches' appends are visible — (2) appends match rows to
    ``matches_path`` (when given), and (3) appends the signatures of
    ACCEPTED (non-matching) arrivals to the history, so later arrivals
    match against earlier ones. Duplicates are matched but NOT appended
    — the history stays one signature per retained document.

    Seed ``history_path`` with ``dedup.simhash(corpus)`` before starting
    the stream. Matching uses ``persist_static=False``: a persisted plan
    over the history path would be CacheManager-substituted on the next
    batch and serve the stale pre-append file list.

    100 TB shape: the history is an append-only 16 B/doc parquet table;
    each micro-batch pays one scan of it (partition-pruned by nothing —
    at corpus scale, store it bucketed by a signature prefix and this
    composition's equi-join prunes to matching buckets) plus the
    arrivals' signature fold. Exactly-once: Structured Streaming replays
    a failed batch; the append of that batch's accepted signatures may
    then double — idempotent dedup on (id) at read, or transactional
    table formats, close that gap in production."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        from kapacitor_spark.dataprep.dedup import simhash

        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            hist = spark.read.parquet(history_path)
            matched = simhash_match_stream(
                batch_df,
                hist,
                max_hamming,
                text_col,
                id_col,
                history_id,
                persist_static=False,
            ).persist()
            try:
                if matches_path is not None:
                    matched.write.mode("append").parquet(matches_path)
                accepted = batch_df.join(
                    matched.select(id_col).distinct(), id_col, "left_anti"
                )
                simhash(accepted, text_col, id_col).write.mode("append").parquet(
                    history_path
                )
            finally:
                matched.unpersist()
        finally:
            batch_df.unpersist()

    return fn
