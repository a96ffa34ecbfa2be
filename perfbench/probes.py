"""Probes that read the running program from outside: process-tree
resident memory from /proc and Spark job ids from the SparkContext status tracker."""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = list(Path(f"/proc/{pid}/task").iterdir())
    except OSError:
        return out
    for task in tasks:
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            continue
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes that map it. The Python workers are forked from one
    daemon, so summing their plain RSS would count the shared pages once
    per worker."""
    try:
        text = Path(f"/proc/{pid}/smaps_rollup").read_text()
    except OSError:
        return 0
    for line in text.splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return 0


def tree_pids(root: int) -> set[int]:
    """``root`` and every live descendant (the Spark driver JVM and the
    Python workers it forks)."""
    stack, seen = [root], set()
    while stack:
        pid = stack.pop()
        if pid not in seen:
            seen.add(pid)
            stack += _children(pid)
    return seen


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` and every descendant, in MiB, with pages
    shared between them counted once (the sum of their PSS)."""
    return sum(_pss_kb(pid) for pid in tree_pids(root)) / 1024.0


# one sample walks the page tables of every process in the tree, about
# 30 ms of kernel time with a 1 GiB JVM, so samples are kept sparse
SAMPLE_INTERVAL_S = 0.5


class RssSampler:
    """Background sampler of the process tree's resident memory, kept as
    (perf_counter time, MiB) pairs. Use as a context manager so the thread
    always ends."""

    def __init__(self):
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while True:
            self.samples.append((time.perf_counter(), tree_rss_mb(me)))
            if self._stop.wait(SAMPLE_INTERVAL_S):
                return

    def peak_mb(self, start: float, end: float) -> float:
        """Highest sample in [start, end]."""
        return max((mb for t, mb in self.samples if start <= t <= end), default=0.0)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class JobCounter:
    """Spark job-id high-water mark: the delta across a call is the number
    of jobs it launched (ids are sequential per SparkContext)."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()

    def last_id(self) -> int:
        ids = self._tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1
