"""CPU time and resident memory of a process tree, read from /proc.

The tree is this Python process, the Spark JVM it launches and the Python
workers the JVM forks.  CPU counts each live process's own user and system
time plus the time of the children it has reaped, so a worker that exits
between two samples is still counted once.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between the listing and the read
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
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


def cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of the tree under ``root``."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _status_kb(root: int, field: str) -> float:
    total_kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM), MB."""
    return _status_kb(root, "VmHWM:")


def rss_mb(root: int) -> float:
    """Sum over the tree of each process's current resident set, MB."""
    return _status_kb(root, "VmRSS:")
