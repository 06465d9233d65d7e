"""Measurement helpers shared by the workloads: percentiles, open-loop
latency accounting, /proc RSS sampling and the box-context probes.

Nothing here imports Spark, so the unit tests run without a JVM."""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import threading
import time

RSS_PERIOD_S = 0.25            # /proc sampling period of RssSampler
CPU_PROBE_ROWS = 100_000_000   # rows the CPU probe folds
IO_PROBE_FILES = 200           # small files the I/O probe writes, reads, deletes
IO_PROBE_BYTES = 8192          # size of each of them


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return float(xs[k - 1])


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    return float(xs[n // 2]) if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail_percentile(n: int, wanted: float) -> float | None:
    """``wanted`` if at least ten of ``n`` samples lie beyond it, else the
    highest of 99/95/90/75/50 that has ten beyond, else None."""
    for p in sorted({wanted, 99.0, 95.0, 90.0, 75.0, 50.0}, reverse=True):
        if p <= wanted and n * (1 - p / 100.0) >= 10:
            return p
    return None


# --------------------------------------------------------------------- #
# open-loop latency
# --------------------------------------------------------------------- #


def point_latencies(schedule, file_batch: dict, batch_emit: dict):
    """Latency of every scheduled point to the emission of the result it
    contributes to.

    ``schedule``: [(file, due_s, wrote_s, first_point, n_points)] from the
    generator; ``file_batch``: file name -> micro-batch id that read it;
    ``batch_emit``: batch id -> wall time its output reached the sink.
    A point is timed from when its file was DUE, not when it was written,
    so a late generator or a stalled batch raises the latency of every
    point queued behind it. Returns (latencies_s, missing_points): points
    whose file no batch has consumed are missing, never dropped silently.
    """
    lat: list[float] = []
    missing = 0
    for name, due, _wrote, _first, n in schedule:
        b = file_batch.get(name)
        if b is None or b not in batch_emit:
            missing += n
            continue
        lat.extend([batch_emit[b] - due] * n)
    return lat, missing


def queue_waits(schedule, file_batch: dict, batch_start: dict) -> dict:
    """Per batch: mean seconds from a point's due time to the start of the
    micro-batch that read it (the ``streaming.queue_wait_ms`` layer)."""
    acc: dict = {}
    for name, due, _wrote, _first, n in schedule:
        b = file_batch.get(name)
        if b is None or b not in batch_start:
            continue
        s, c = acc.get(b, (0.0, 0))
        acc[b] = (s + (batch_start[b] - due) * n, c + n)
    return {b: s / c for b, (s, c) in acc.items()}


def generator_lateness(schedule) -> list[float]:
    """Seconds each file was written after it was due."""
    return [max(0.0, wrote - due) for _n, due, wrote, _f, _k in schedule]


# --------------------------------------------------------------------- #
# resident memory of the driver JVM and its Python workers
# --------------------------------------------------------------------- #


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        parents.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(parents.get(p, ()))
    return out


class RssSampler:
    """Samples the summed RSS of a process tree (the driver JVM, which
    forks the Python worker daemon and its workers) every ``RSS_PERIOD_S``
    seconds; ``peak_mb`` is the highest sum seen."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_kb = 0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_PERIOD_S)

    def sample(self) -> None:
        per = [_rss_kb(p) for p in process_tree(self.root_pid)]
        if sum(per) > self.peak_kb:
            self.peak_kb = sum(per)
            self.peak_parts = {"jvm_mb": per[0] / 1024.0, "processes": len(per)}

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --------------------------------------------------------------------- #
# box context (recorded beside each run, never used to scale a metric)
# --------------------------------------------------------------------- #


def cpu_probe(spark, parallelism: int) -> float:
    """Seconds for a cache-free codegen'd hash fold, with its partition
    count pinned to the session's core count; best of 2 after a warmup."""
    def once():
        t0 = time.perf_counter()
        spark.range(0, CPU_PROBE_ROWS, 1, parallelism).selectExpr(
            "bit_xor(xxhash64(id, xxhash64(id))) AS s").collect()
        return time.perf_counter() - t0

    once()
    return min(once(), once())


def io_probe(base: str) -> float:
    """Seconds to write+fsync, read and delete ``IO_PROBE_FILES`` small
    files under ``base`` (the filesystem the checkpoints use); best of 3."""
    payload = b"\xa5" * IO_PROBE_BYTES

    def once():
        d = tempfile.mkdtemp(prefix="io_probe_", dir=base)
        t0 = time.perf_counter()
        try:
            for i in range(IO_PROBE_FILES):
                with open(os.path.join(d, f"f{i}"), "wb") as fh:
                    fh.write(payload)
                    fh.flush()
                    os.fsync(fh.fileno())
            for i in range(IO_PROBE_FILES):
                with open(os.path.join(d, f"f{i}"), "rb") as fh:
                    fh.read()
            for i in range(IO_PROBE_FILES):
                os.unlink(os.path.join(d, f"f{i}"))
            return time.perf_counter() - t0
        finally:
            shutil.rmtree(d, ignore_errors=True)

    return min(once() for _ in range(3))
