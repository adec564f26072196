"""CPU time and memory of this process and its descendants.

Read from ``/proc``.  A process's ``cutime``/``cstime`` hold the CPU of the
children it has already reaped, so summing utime+stime+cutime+cstime over
the live tree counts short-lived Python workers once their parent (the
PySpark daemon) reaps them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` from the state on (index 0 = state)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None  # exited between listing and reading
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    """Direct children of ``pid``, over all of its threads."""
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out  # exited
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children", encoding="ascii") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass  # thread ended between listing and reading
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, found by walking down from
    ``root`` only, so a sample costs the same however busy the host is."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def cpu_seconds(pids) -> float:
    """utime+stime+cutime+cstime summed over ``pids``."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def pss_mb(pids) -> float:
    """Proportional set size of ``pids`` in MB: pages shared between
    processes, such as a forked Python worker's and its daemon's, are split
    between them rather than counted once per process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                total += sum(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
        except OSError:
            pass  # exited
    return total / 1e3


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _TICK


class Tree:
    """The benchmark's own process tree: this Python driver, the JVM it
    launched, and the JVM's Python daemon and workers."""

    def __init__(self):
        self.root = os.getpid()

    def cpu_s(self) -> float:
        return cpu_seconds(descendants(self.root))

    def _workers(self) -> list[int]:
        """The Python processes below the JVM."""
        return [
            p for jvm in _children(self.root) for c in _children(jvm) for p in descendants(c)
        ]

    def jvm_children_cpu_s(self) -> float:
        """CPU of the JVM's descendants: the Python daemon and its workers."""
        return cpu_seconds(self._workers())

    def python_pss_mb(self) -> float:
        """Proportional set size of the driver and of the Python workers."""
        return pss_mb([self.root, *self._workers()])
