"""Measurement helpers: rep summaries, process-tree memory, a DRAM probe and
an in-memory span tracer. Nothing here imports Spark or the package under
test."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

RSS_INTERVAL_S = 0.2  # RssSampler's polling period
PROBE_MB = 32  # per-thread buffer of the DRAM probe
PROBE_REPS = 5


def summarize(values: list[float]) -> dict:
    """Median and sample count of one metric's per-rep values."""
    if not values:
        raise ValueError("no samples to summarize")
    return {"median": statistics.median(values), "n": len(values)}


def _children_by_parent() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name may hold spaces and parentheses: the
                # parent pid is the second field after the LAST ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed /proc
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """Live descendants of ``root``: for this process, the Spark JVM and the
    Python workers it forks."""
    kids = _children_by_parent()
    out, stack = [], [root]
    while stack:
        for k in kids.get(stack.pop(), ()):
            out.append(k)
            stack.append(k)
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and all its descendants, from /proc."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    ``root`` and its live descendants. Time the host steals from the guest
    is not in it, so it moves less with neighbour load than wall time."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Polls the process tree's summed RSS on a thread; ``peak_mb`` is the
    largest sum seen between ``start`` and ``stop``."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _poll(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        return self.peak_mb


def dram_probe_gbs(threads: int) -> float:
    """Best-of-``PROBE_REPS`` aggregate copy bandwidth (read + write GB/s) of
    ``threads`` concurrent numpy copies. numpy releases the GIL in copyto,
    so the threads load DRAM together, the way Spark's workers do."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    n = PROBE_MB * 1024 * 1024 // 8
    srcs = [np.ones(n) for _ in range(threads)]
    dsts = [np.empty_like(s) for s in srcs]
    best = float("inf")
    with ThreadPoolExecutor(max_workers=threads) as ex:
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            for fut in [ex.submit(np.copyto, d, s) for d, s in zip(dsts, srcs)]:
                fut.result()
            best = min(best, time.perf_counter() - t0)
    return 2 * threads * PROBE_MB / 1024 / best


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class Tracer:
    """Spans kept in memory: name, start, end (``time.time()`` seconds, the
    clock file mtimes use) and parent span id. ``dump`` writes them out."""

    spans: list[Span] = field(default_factory=list)

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        span = Span(len(self.spans), name, start, end, parent)
        self.spans.append(span)
        return span.id

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        sid = self.add(name, time.time(), float("nan"), parent)
        try:
            yield sid
        finally:
            self.spans[sid].end = time.time()

    def self_time(self, sid: int) -> float:
        """A span's duration minus the part of it its child spans cover."""
        s = self.spans[sid]
        kids = [(c.start, c.end) for c in self.spans if c.parent == sid]
        return s.duration - covered(s.start, s.end, kids)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([vars(s) for s in self.spans], fh, indent=1)
