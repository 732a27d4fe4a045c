"""CPU time of the benchmark's process tree, and the host's steal time.

`tree_cpu_s()` sums user and system time over this process and every
descendant (the Spark JVM and its Python workers), including children
they have already reaped, as `/proc/<pid>/stat` reports them. The
difference of two readings is the CPU the whole stack spent in between.
Time the hypervisor gives to other guests (steal) is not in it.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime + stime + cutime + cstime in seconds)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended while we listed
            continue
        # the command name is in parentheses and may hold spaces
        fields = raw[raw.rindex(")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(v) for v in fields[11:15])
        out[int(name)] = (ppid, ticks / TICK)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    stats = _stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, total = [root or os.getpid()], 0.0
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def host_steal_s() -> float:
    """Steal time summed over all CPUs since boot, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK
