"""Percentiles with their sample support, and a peak-RSS sampler."""

from __future__ import annotations

import math
import os
import threading

#: Percentiles considered for the tail figure, highest first.
_TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default), ``q`` in [0, 1]."""
    if not values:
        raise ValueError("quantile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """Sample count, median, p90, and the highest percentile that has at
    least ten samples beyond it (``None`` below 20 samples)."""
    n = len(values)
    # samples beyond percentile p: n * (100 - p) / 100, kept exact
    tail = next((p for p in _TAILS if n * (100 - p) >= 1000 - 1e-6), 50.0 if n >= 20 else None)
    return {
        "n": n,
        "p50": quantile(values, 0.5),
        "p90": quantile(values, 0.9),
        "tail_pct": tail,
        "tail": quantile(values, tail / 100) if tail is not None else None,
    }


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every process under ``root`` (not ``root`` itself), from ``/proc``."""
    out, stack, seen = [], _children(root), {root}
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        out.append(pid)
        stack.extend(_children(pid))
    return out


def start_ticks(pid: int) -> int | None:
    """Start time of a live process in clock ticks (tells a reused pid
    apart), or ``None`` once it has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else int(fields[19])


def cpu_ticks() -> list[int]:
    """The machine's CPU time so far by state, in clock ticks: user, nice,
    system, idle, iowait, irq, softirq, steal (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tree_rss_kib(root: int) -> int:
    """RSS of ``root`` and all its descendants (driver JVM, Python
    workers), read from ``/proc``."""
    return sum(_rss_kib(pid) for pid in (root, *descendants(root)))


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread; ``peak_mib`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kib = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, tree_rss_kib(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mib(self) -> float:
        return self.peak_kib / 1024.0
