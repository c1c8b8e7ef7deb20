"""Process-tree readings from /proc: peak resident memory and CPU time."""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set size (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def python_pids(pids: list[int]) -> list[int]:
    """The Python processes among ``pids``."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().startswith("python"):
                    out.append(pid)
        except OSError:
            continue
    return out


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of ``pids``, every thread included, and of
    their children that have exited and been waited for. On a guest that
    reports steal time, the kernel leaves the stolen time out of these
    counters."""
    total = 0
    for pid in pids:
        try:
            fields = _stat_fields(pid)
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def python_cpu_s(pids: list[int]) -> float:
    """CPU seconds, as ``cpu_s`` counts them, of the Python processes among
    ``pids``."""
    return cpu_s(python_pids(pids))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICKS if len(fields) > 8 else 0.0
