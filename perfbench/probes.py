"""Host-side probes: process-tree peak resident memory from ``/proc`` and a
JVM canary.

Both are reported and never used to drop, retry or rescale a run.
"""

from __future__ import annotations

import os
import threading
import time

def _tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from ``/proc/<pid>/stat``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces and parens: fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of each live process in ``root``'s tree, as its
    proportional share (PSS): a page shared by forked processes — Python
    workers forked from their daemon, a helper the JVM spawns — is split
    between them instead of counted once per process."""
    out = {}
    for pid in _tree(root):
        try:
            out[pid] = _pss_bytes(pid)
        except (OSError, ValueError):  # exited mid-read
            continue
    return out


class PeakRSS:
    """Samples the RSS of this process's tree (driver, JVM, Python workers)
    on a background thread while active; ``peak_mb`` is the largest sum."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: list[int] = []  # per-process RSS at the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss(os.getpid())
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, sorted(parts.values(), reverse=True)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


CANARY_ROWS = 10_000_000


def canary_s(spark, slots: int) -> float:
    """Wall time of a fixed pure-JVM job (hash-sum over a range): it moves
    only with the host, so a slow reading flags a VM stall phase."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    spark.range(0, CANARY_ROWS, 1, slots).select(F.sum(F.xxhash64("id") % 1024)).collect()
    return time.perf_counter() - t
