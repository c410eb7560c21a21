"""CPU time and resident memory of a process tree, read from ``/proc``.

The Spark JVM and its Python workers are not children the benchmark's
Python process waits for, so its ``os.times()`` reports none of their
CPU.  This
module walks ``/proc`` from the JVM's pid down through every descendant
and sums user + system time (including time of reaped children, which
the kernel folds into their parent's ``cutime``/``cstime``) and RSS.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# PeakRss: seconds between RSS samples, and samples between walks of the
# tree for its pid list
RSS_INTERVAL_S = 0.1
TREE_REFRESH = 10


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    pid is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rfind(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    """Direct children of ``pid`` across all of its threads."""
    kids: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as f:
                kids.extend(int(p) for p in f.read().split())
        except FileNotFoundError:
            continue
    return kids


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


class Sample:
    """``cpu_s``: the whole tree; ``root_own_s``: the root process alone
    (its threads, without reaped children); ``rss_mb``: the tree."""

    __slots__ = ("cpu_s", "root_own_s", "rss_mb")

    def __init__(self, cpu_s: float, root_own_s: float, rss_mb: float):
        self.cpu_s = cpu_s
        self.root_own_s = root_own_s
        self.rss_mb = rss_mb


def sample(root: int) -> Sample:
    """CPU seconds (user + sys, own + reaped children) and RSS of the tree."""
    cpu_ticks = root_ticks = rss_pages = 0
    for pid in tree(root):
        f = _stat(pid)
        if f is None:
            continue
        # fields after "(comm) ": state=0 ... utime=11 stime=12
        # cutime=13 cstime=14 ... rss=21
        own = int(f[11]) + int(f[12])
        cpu_ticks += own + int(f[13]) + int(f[14])
        if pid == root:
            root_ticks = own
        rss_pages += int(f[21])
    return Sample(cpu_ticks / _TICK, root_ticks / _TICK, rss_pages * _PAGE / 2**20)


def _rss_mb(pids: list[int]) -> float:
    pages = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                pages += int(f.read().split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
    return pages * _PAGE / 2**20


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak_mb`` is the
    highest sum seen between ``start()`` and ``stop()``.  Walking the
    tree reads one file per JVM thread, so the pid list is refreshed
    only every ``TREE_REFRESH`` samples."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        k = 0
        while not self._stop.is_set():
            if k % TREE_REFRESH == 0:
                pids = tree(self.root)
            self.peak_mb = max(self.peak_mb, _rss_mb(pids))
            k += 1
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "PeakRss":
        self.peak_mb = sample(self.root).rss_mb
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        self.peak_mb = max(self.peak_mb, sample(self.root).rss_mb)
        return self.peak_mb
