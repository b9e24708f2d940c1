"""CPU and memory of this process and everything it started, read from /proc.

The tree is the Python driver (this process), the JVM that PySpark
launches as its child, the JVM's ``pyspark.daemon`` and the Python
workers that daemon forks.

What it sees:

- ``cpu_s``: the change in user + system CPU of every process in the tree
  between two snapshots, counting a child's whole CPU once it has been
  reaped by a parent in the tree (``cutime``/``cstime``). A worker that
  starts and ends between the snapshots is therefore counted, provided a
  process of the tree reaps it (the daemon reaps its workers). All JVM and
  Python threads are included, the sampler thread too.
- ``peak_rss_mb``: the largest sum of resident set sizes over the tree,
  sampled every ``interval`` seconds.

What it cannot see:

- CPU of a process that left the tree before it was reaped (re-parented to
  init), and CPU spent by the kernel on the tree's behalf outside process
  accounting (page cache writeback, network stack).
- RSS spikes shorter than ``interval``. Pages shared between forked
  workers are counted once per process, so the sum overstates physical
  memory by the shared part.
- Time spent waiting for I/O or for the CPU; only CPU time used is counted.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(k) for k in fh.read().split())
        except OSError:
            continue
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants (zombies included)."""
    root = os.getpid() if root is None else root
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    pages = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            pages += int(f[21])  # rss, field 24 of stat(5)
    return pages * _PAGE / 2**20


class TreeSampler:
    """Peak RSS of the tree between :meth:`start` and :meth:`stop`, sampled
    every ``interval`` seconds by a background thread."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss_mb = 0.0

    def _sample(self) -> None:
        while True:
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
            if self._halt.wait(self.interval):
                return

    def start(self) -> None:
        self._halt.clear()
        self.peak_rss_mb = 0.0
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._halt.set()
        if self._thread is not None:
            self._thread.join()
            self._thread = None
