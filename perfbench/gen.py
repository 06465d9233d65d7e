"""Seeded input generation for the benchmark.

Everything the program under test sees is made here from the workload
seed, so equal seeds give byte-identical inputs:

* ``events``: 100,000 points shaped like the sf0.1 ``events`` fixture
  (1,500 user keys, 5 event types, exponential values with mean 50 at
  2 decimals, ``{"k": n}`` props, 30 days of strictly increasing
  microsecond timestamps).
* ``documents``: 5,000 documents shaped like the sf0.1 ``documents``
  fixture (31-word vocabulary, 8-100 words, the fixture's language mix,
  20 sources, and 250 near-duplicates: a copy of an earlier document plus
  the word ``dup``).
* line-protocol spool files for the stream workload, written on a fixed
  schedule by the open-loop generator process (``python3 gen.py spool``).
  Every ``SLOW_EVERY``-th point also carries its ``props`` as a quoted
  string field with escaped quotes, the shape that takes the Python
  branch of ``parse_lines``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pandas as pd

N_EVENTS = 100_000
N_USERS = 1_500
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86_400 * 1_000_000

N_DOCS = 5_000
N_PLANTED = 250
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20
SLOW_EVERY = 20


def _rng(seed: int, stream: str) -> np.random.Generator:
    # independent, seed-determined streams per input kind
    return np.random.default_rng([int(seed), sum(map(ord, stream))])


def events(seed: int) -> pd.DataFrame:
    r = _rng(seed, "events")
    offs = np.sort(r.integers(0, SPAN_US, N_EVENTS))
    # strictly increasing, so (user_id, ts) identifies a point
    offs = offs + np.arange(N_EVENTS)
    ts_us = T0_US + offs
    return pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pd.to_datetime(ts_us * 1000, unit="ns"),
        "user_id": r.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), N_EVENTS)],
        "value": np.round(r.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, N_EVENTS)],
    })


def documents(seed: int) -> pd.DataFrame:
    r = _rng(seed, "documents")
    lens = r.integers(8, 101, N_DOCS)
    words = np.asarray(VOCAB)
    texts = [" ".join(words[r.integers(0, len(VOCAB), n)]) for n in lens]
    # planted near-duplicates: a later doc copies an earlier original
    planted = np.sort(r.choice(np.arange(N_DOCS // 10, N_DOCS), N_PLANTED, replace=False))
    planted_set = set(planted.tolist())
    for i in planted:
        j = int(r.integers(0, i))
        while j in planted_set:
            j = int(r.integers(0, i))
        texts[i] = texts[j] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS)[r.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def write_parquet(df: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(df, preserve_index=False)
    tmp = path + ".tmp"
    # nanosecond timestamps, like the fixture parquet the queries were
    # written against (read_table's TIMESTAMP(NANOS) path)
    pq.write_table(table, tmp, coerce_timestamps=None, allow_truncated_timestamps=False)
    os.replace(tmp, path)


def write_tables(seed: int, out_dir: str) -> str:
    """events.parquet and documents.parquet for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("events", events), ("documents", documents)):
        write_parquet(make(seed), os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------------- #
# line protocol and the open-loop spool generator
# --------------------------------------------------------------------- #


def lp_lines(ev: pd.DataFrame) -> list[str]:
    ts_ns = ev["ts"].astype("int64").to_numpy()
    out = []
    for t, u, v, i, p, n in zip(ev["event_type"], ev["user_id"], ev["value"].astype(float),
                                ev["event_id"], ev["props"], ts_ns):
        extra = ""
        if i % SLOW_EVERY == 0:
            extra = ',props="' + p.replace("\\", "\\\\").replace('"', '\\"') + '"'
        out.append(f"events,event_type={t},user_id={u} value={v!r},event_id={i}i{extra} {n}")
    return out


def write_spool_file(spool: str, name: str, lines: list[str]) -> None:
    """Atomic publish: Spark's file source skips dot-files, so the data
    appears in one rename."""
    tmp = os.path.join(spool, "." + name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    os.rename(tmp, os.path.join(spool, name))


def spool_schedule(first: int, n_points: int, rate: float, interval: float):
    """Fixed open-loop schedule: file k is due at k*interval seconds after
    the start and holds the points created in ((k-1)*interval, k*interval].
    Returns [(k, due_offset_s, first_point, n_points)]."""
    out = []
    per = rate * interval
    k, done = 1, 0
    while done < n_points:
        upto = min(n_points, int(round(k * per)))
        if upto > done:
            out.append((k, k * interval, first + done, upto - done))
        done = upto
        k += 1
    return out


def run_spool(args) -> None:
    """Single-threaded open-loop generator: writes each file when it is due,
    whether or not the tasks keep up, and records when it really wrote."""
    lines = lp_lines(events(args.seed).iloc[args.first:args.first + args.n])
    t_start = args.start
    log = []
    for k, due, first, n in spool_schedule(args.first, args.n, args.rate, args.interval):
        delay = t_start + due - time.time()
        if delay > 0:
            time.sleep(delay)
        lo = first - args.first
        write_spool_file(args.spool, f"live{k:06d}.lp", lines[lo:lo + n])
        log.append([f"live{k:06d}.lp", t_start + due, time.time(), first, n])
    with open(args.log, "w") as fh:
        json.dump(log, fh)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spool", help="open-loop line-protocol writer")
    sp.add_argument("--seed", type=int, required=True)
    sp.add_argument("--spool", required=True)
    sp.add_argument("--log", required=True)
    sp.add_argument("--first", type=int, required=True)
    sp.add_argument("--n", type=int, required=True)
    sp.add_argument("--rate", type=float, required=True)
    sp.add_argument("--interval", type=float, required=True)
    sp.add_argument("--start", type=float, required=True)
    args = ap.parse_args(argv)
    if args.cmd == "spool":
        run_spool(args)


if __name__ == "__main__":
    sys.exit(main())
