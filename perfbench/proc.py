"""Process-tree CPU and memory, and host state, read from ``/proc``.

The tree is this Python process and every descendant: the JVM that
``pyspark`` launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the live tree, including children that
    tree members have already reaped (``cutime``/``cstime``)."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted inside user time
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc() -> int:
    return len(os.sched_getaffinity(0))
