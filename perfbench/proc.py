"""Host and process-tree readings from ``/proc``: CPU steal, load
average and the CPU seconds of this process and all its descendants
(the Spark JVM and the Python workers it forks)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (field 3); utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks / _TICK


def _table() -> dict[int, tuple[str, int, float]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    return procs


def _children(procs) -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    return children


def descendants(root: int | None = None) -> list[int]:
    """Live processes below ``root`` (default: this process)."""
    procs = _table()
    children = _children(procs)
    out, stack = [], list(children.get(os.getpid() if root is None else root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int | None = None) -> dict[str, float]:
    """CPU seconds of ``root`` (default: this process) and every live
    descendant, split into ``total`` and ``python_workers`` (Python
    processes below the JVM, i.e. the pyspark daemon and its workers).
    A live process's own counters include its reaped children, so the
    sum counts every finished worker once."""
    root = os.getpid() if root is None else root
    procs = _table()
    children = _children(procs)
    total = workers = 0.0
    stack = [(root, False)]
    while stack:
        pid, under_jvm = stack.pop()
        if pid not in procs:
            continue
        comm, _, cpu = procs[pid]
        total += cpu
        if under_jvm and comm.startswith("python"):
            workers += cpu
        below = under_jvm or comm == "java"
        stack.extend((c, below) for c in children.get(pid, ()))
    return {"total": total, "python_workers": workers}
