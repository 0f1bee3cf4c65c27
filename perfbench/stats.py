"""Nearest-rank percentiles and process memory for the benchmark's metrics."""

from __future__ import annotations

import math
import os
import threading


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p`` of
    the samples at or below it (``p`` in (0, 1])."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed resident set size of ``pids`` every ``interval_s``
    on a background thread and keeps the peak."""

    def __init__(self, pids: list[int], interval_s: float = 0.05):
        self.pids = pids
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in self.pids))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
