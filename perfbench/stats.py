"""Summary statistics and the process-tree memory sampler.

Timings are reported as a median plus the highest percentile that still
has at least ten samples beyond it, each with its sample count.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

TAIL_BEYOND = 10
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[int, float] | None:
    """(percentile, value) of the highest percentile with at least
    ``TAIL_BEYOND`` samples strictly beyond it, or None when there are
    too few samples. With n sorted samples that is the (n-10)-th smallest
    value; its percentile is floor(100 * (n-10) / n)."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(values)
    return 100 * (n - TAIL_BEYOND) // n, float(ordered[n - TAIL_BEYOND - 1])


def children() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process in /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident set size of ``root`` and all its descendants (the JVM the
    session launched and the Python workers it forks)."""
    kids = children()
    todo, total = [root or os.getpid()], 0
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` is the
    largest sum seen while running."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            self.samples += 1
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
