"""Process-tree CPU time and memory, read from /proc.

The tree is this process plus every descendant: the JVM that pyspark starts
and the Python workers that the JVM forks.  CPU time includes the children
each process has reaped (cutime/cstime), so a worker that exits inside a
measured interval still counts.  Memory is the proportional set size (PSS):
Python workers are forked from one daemon and share most of their pages,
which a plain RSS sum would count once per worker.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat", "rb") as fh:
        raw = fh.read().decode("ascii", "replace")
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> List[int]:
    """``root`` and all its live descendants."""
    root = os.getpid() if root is None else root
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
        ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def tree_pss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue
    return total


class PssSampler:
    """Samples the tree's summed PSS on a background thread; ``peak`` is the
    highest sum seen.  Use as a context manager so the thread always stops."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())
