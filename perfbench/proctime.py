"""CPU time of this process and every process it started.

The Spark JVM is a child of the benchmark process and the Python
workers are children of the JVM, so an operation's CPU cost is the
change in the CPU time of the whole process tree. Each process counts
its own user and system time plus that of its children that have ended
and been waited for, so work of a worker that exited is not lost.

CPU time is the time the processes ran. Unlike wall time it does not
grow while a virtual machine's CPUs wait for the host (steal time), so
it moves much less with the load of other tenants of a shared host.
"""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        text = fh.read()
    # the command name (field 2) may hold spaces; fields after it are plain
    return text[text.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """User + system seconds of ``root`` (default: this process), its
    descendants, and the descendants that have already been reaped."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(entry)
        except (OSError, ValueError):
            continue  # the process ended meanwhile
        pid = int(entry)
        children.setdefault(int(f[1]), []).append(pid)
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    total = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _TICKS
