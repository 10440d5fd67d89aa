"""Benchmark arithmetic and process-level measurements.

Pure helpers (median, tail percentile, self time) are kept free
of Spark so they can be unit-tested on their own; the /proc readers
measure CPU and resident memory of this process and every process it
started (the JVM and its Python workers).
"""

from __future__ import annotations

import math
import os
import statistics
import threading

MIN_BEYOND = 10  # samples a reported tail percentile must leave above it


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs: list[float], min_beyond: int = MIN_BEYOND):
    """The highest whole percentile p >= 50 that still has at least
    ``min_beyond`` samples above it, as ``(p, value)`` with the
    nearest-rank value; None when there are too few samples (n < 2 *
    min_beyond). With 100 samples this is p90; with 20 it is p50."""
    n = len(xs)
    if n < 2 * min_beyond:
        return None
    p = (100 * (n - min_beyond)) // n
    rank = math.ceil(p * n / 100)
    return p, float(sorted(xs)[rank - 1])


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span length minus the union of its children's intervals (clipped to
    the span). Children from another thread may overlap each other; the
    union counts shared time once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length([c for c in clipped if c[1] > c[0]])


# --------------------------------------------------------------------------
# /proc readers
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the comm field may contain spaces; everything after ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU of the tree, including reaped children (their
    time moves into the parent's cutime/cstime, so nothing is lost or
    counted twice)."""
    total = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat (utime stime cutime cstime), 0-based 11-14 here
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot; the steal
    share between two readings is the time other guests took."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


class RssSampler:
    """Background thread sampling the tree's resident set; ``peak_mb`` is
    the largest sum seen between start() and stop()."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


def dir_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; (0, 0) when it does not exist."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
                n_files += 1
            except OSError:
                pass
    return n_bytes, n_files

