"""Per-group alert state machine (SURVEY §2.10) — the sequential core shared
by batch mode (applyInPandas over complete groups) and streaming mode
(applyInPandasWithState over hash buckets of groups, across micro-batches).

Reference semantics (/root/reference/alert.go):
* level per point = first matching of CRITICAL > WARNING > INFO else OK
  (determineLevel, alert.go:915-950) — computed declaratively BEFORE this
  machine (a CASE expression); the machine consumes the level column.
* stateChangesOnly: emit only transitions; initial state OK
  (alert.go:989-1290; pipeline/alert.go:549).
* flapping detection (alert.go:1252-1286): ring of the last ``history``
  levels (default 21, pipeline/alert.go DefaultFlapHistory); weighted
  fraction of adjacent changes, newest weighted 1.5x the oldest
  (weightDiff=1.5, maxWeight=1.2, alert.go:55-59); hysteresis: start
  suppressing when pct > high, stop when pct < low. Alerts are suppressed
  while flapping.
* noRecoveries (pipeline/alert.go:500): drop transitions INTO OK.

The walk is O(n) per group in plain Python over numpy arrays, on
Arrow-transferred data, not per point through an interpreter. Batch mode runs
it once per group. Streaming runs it once per group per micro-batch over that
group's slice of its hash bucket, every group of a bucket inside ONE Python
call (streaming._bucketed_state); the bucket's state row holds the machine
state of each of its groups.
"""

from __future__ import annotations

import numpy as np

LEVELS = ("OK", "INFO", "WARNING", "CRITICAL")
LEVEL_IDX = {n: i for i, n in enumerate(LEVELS)}

MAX_WEIGHT = 1.2   # alert.go:59
WEIGHT_DIFF = 1.5  # alert.go:56


def percent_change(history: list[int], idx: int) -> float:
    """Weighted fraction of adjacent level changes in the ring buffer
    (alert.go:1251-1272), walked oldest→newest from idx."""
    l = len(history)
    if l < 2:
        return 0.0
    changes = 0.0
    weight = MAX_WEIGHT / WEIGHT_DIFF
    step = (MAX_WEIGHT - weight) / float(l - 1)
    for i in range(l - 1):
        c = (i + idx) % l
        p = c - 1 if c - 1 >= 0 else l - 1
        if history[c] != history[p]:
            changes += weight
        weight += step
    return changes / float(l - 1)


def determine_levels(
    m: dict[int, np.ndarray],
    r: dict[int, np.ndarray],
    defined: set[int],
    has_reset: dict[int, bool],
    cur: int,
) -> tuple[np.ndarray, int]:
    """Reset-hysteresis level determination (alert.go:915-950
    determineLevel + findFirstMatchLevel) over PRE-EVALUATED predicate
    arrays: ``m[l]`` = level-l lambda matched, ``r[l]`` = level-l reset
    lambda result (object array, None where no reset applies). A level
    with a reset lambda HOLDS until the reset passes. ``cur`` seeds the
    walk — 0 for a complete batch group, the carried state level across
    streaming micro-batches. Returns (level indices, final cur)."""
    n = len(next(iter(m.values()))) if m else 0
    out = np.zeros(n, dtype=np.int64)

    def first_match(i, start, stop):
        # findFirstMatchLevel (alert.go:932-948): l in (stop, start]
        for l in range(start, max(stop, 0), -1):
            if l in defined and m[l][i]:
                return l, True
        return 0, False

    for i in range(n):
        new, found = first_match(i, 3, cur - 1)
        if not found:
            rv = r[cur][i] if cur else None
            if cur and has_reset[cur] and rv is not None and not bool(rv):
                new = cur  # reset not passed: hold the level
            else:
                new, _ = first_match(i, cur, 0)
        cur = new
        out[i] = new
    return out, cur


def new_state(history_len: int = 21) -> dict:
    return {
        "last_level": 0,
        "history": [0] * history_len,
        "idx": 0,
        "flapping": False,
    }


def walk_levels(
    levels: np.ndarray,
    state: dict,
    state_changes_only: bool = True,
    no_recoveries: bool = False,
    flap_low: float | None = None,
    flap_high: float | None = None,
    events_only: bool = False,
    times: np.ndarray | None = None,
    max_interval_us: int | None = None,
) -> tuple[np.ndarray, dict]:
    """Run the state machine over an event-time-ordered level sequence
    (ints per LEVEL_IDX). Returns (emit_mask, new_state).

    ``events_only`` applies the reference's exact STREAM trigger rule
    (alert.go:1115-1159 Point): an OK point fires only as a RECOVERY
    (level changed), steady OK fires nothing; while flapping, EVERY event
    including recoveries is suppressed (alert.go:1124 returns before the
    level check — the batch path differs and lets recoveries through).

    ``max_interval_us`` + ``times`` (int64 event-time µs): the
    stateChangesOnly(maxInterval) expiry (alert.go:1288-1290
    updateExpired + pipeline/alert.go:549) — a steady non-OK level
    re-fires once ``maxInterval`` has passed since the last triggered
    event (lastTriggered updates per alert.go:1213-1214 whenever the
    fire rule passes, including recoveries suppressed by noRecoveries)."""
    use_flapping = flap_low is not None and flap_high is not None
    last = state["last_level"]
    history = list(state["history"])
    idx = state["idx"]
    flapping = state["flapping"]
    last_trig = state.get("last_triggered")
    l = len(history)
    emit = np.zeros(len(levels), dtype=bool)
    for i, lv in enumerate(levels):
        lv = int(lv)
        changed = lv != last
        if use_flapping:
            idx = (idx + 1) % l
            history[idx] = lv
            p = percent_change(history, idx)
            if flapping and p < flap_low:
                flapping = False
            elif not flapping and p > flap_high:
                flapping = True
        expired = (
            not changed
            and max_interval_us is not None
            and times is not None
            and last_trig is not None
            and int(times[i]) - last_trig >= max_interval_us
        )
        if state_changes_only:
            # Expiry re-fires only non-OK levels: the reference's trigger
            # gate (alert.go:1128) is `level != OK || changed`, so a steady
            # OK past maxInterval never re-emits.
            keep = changed or (expired and lv != 0)
        elif events_only:
            keep = lv != 0 or changed
        else:
            keep = True
        if no_recoveries and lv == 0 and changed:
            keep = False
        if use_flapping and flapping:
            keep = False
        emit[i] = keep
        suppressed = (use_flapping and flapping) or (
            state_changes_only and not changed and not expired
        )
        if times is not None and not suppressed and (lv != 0 or changed):
            last_trig = int(times[i])
        last = lv
    return emit, {
        "last_level": last,
        "history": history,
        "idx": idx,
        "flapping": flapping,
        "last_triggered": last_trig,
    }
