"""Process-tree CPU time and resident memory from /proc.

The tree is this Python driver, its JVM and the JVM's Python workers. CPU is
utime+stime of every live process plus the cutime+cstime each has collected
from reaped children, so a worker that exits mid-pass is still counted once
its parent reaps it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def cpu_s(root: int | None = None) -> float:
    """CPU seconds of the process tree, reaped children included."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields[0] is state (field 3); utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss(root: int | None = None) -> int:
    """Sum over the live tree of each process's own peak RSS (VmHWM), in
    bytes: an upper bound of the tree's peak, read once, with no sampler
    running beside the measured passes."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
