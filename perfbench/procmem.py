"""Resident memory of a process tree, sampled from /proc."""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants,
    including what their reaped children used."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background sampler of the summed RSS of ``root`` and its
    descendants, as (perf_counter time, bytes) samples."""

    def __init__(self, root: int | None = None, interval_s: float = 0.5) -> None:
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    def sample(self) -> None:
        self.samples.append((time.perf_counter(), tree_rss_bytes(self.root)))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def peak_mb(self) -> float:
        return max(b for _, b in self.samples) / (1 << 20)

    def median_mb(self, since: float) -> float:
        """Median of the samples taken from ``since`` on (all of them
        when there are none)."""
        xs = sorted(b for t, b in self.samples if t >= since) or sorted(
            b for _, b in self.samples)
        return xs[len(xs) // 2] / (1 << 20)
