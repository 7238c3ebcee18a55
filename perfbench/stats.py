"""Percentiles that need ten samples beyond them, and a process-tree
resident-memory sampler."""

from __future__ import annotations

import math
import os
import threading

#: a percentile is reported only with this many samples above it
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    ``MIN_BEYOND`` samples rank above it."""
    n = len(samples)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n == 0 or n - rank < MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


def reportable(samples: list[float], ps=(50, 90, 99, 99.9)) -> dict[str, float]:
    """``{"p50": ..., "p90": ...}`` for the percentiles of ``ps`` that
    have at least ``MIN_BEYOND`` samples beyond them."""
    out = {}
    for p in ps:
        v = percentile(samples, p)
        if v is not None:
            out[f"p{p:g}"] = v
    return out


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> tuple[int, list[int]]:
    """Resident bytes summed over ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total, pids = 0, process_tree(root)
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total, pids


class RssSampler:
    """Samples the process tree's resident memory every ``interval``
    seconds between :meth:`start` and :meth:`stop`; keeps the peak and
    every pid it saw (so teardown can wait for all of them)."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        rss, pids = tree_rss_bytes(self.root)
        self.peak = max(self.peak, rss)
        self.seen.update(pids)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
