"""Host diagnostics read from /proc: steal share, load, process-tree
CPU and JVM peak memory. Recorded on every run so that a slow run can be
told apart from a slow host; none of them is an end-to-end metric."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) of the whole host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_ratio(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields follow its closing paren
    return data[data.rindex(")") + 2 :].split()


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU seconds of ``root_pid`` and all its live
    descendants, including their reaped children."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    total = 0
    for pid in parent:
        p = pid
        while p not in (0, 1, root_pid) and p in parent:
            p = parent[p]
        if p == root_pid:
            st = _stat(pid)
            if st is not None:
                # utime stime cutime cstime
                total += sum(int(x) for x in st[11:15])
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
