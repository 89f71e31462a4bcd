"""What the benchmark reads from ``/proc`` about its own process tree
(this Python driver, the JVM it starts and the JVM's Python workers) and
about the machine."""

from __future__ import annotations

import os
import time

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` over this process and its descendants (the JVM)."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its descendants,
    counting reaped children too, so a Python worker that exits moves its
    time to its parent instead of losing it."""
    ticks = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks * _TICK_S


def host_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the machine since boot, from ``/proc/stat``:
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class Measure:
    """Wall seconds (``wall``) and process-tree CPU seconds (``cpu``) of a
    ``with`` block. The CPU reads sit outside the wall interval."""

    def __enter__(self) -> "Measure":
        self.cpu = tree_cpu_s()
        self.wall = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.wall
        self.cpu = tree_cpu_s() - self.cpu
