"""CPU time and peak memory of this process and everything it started
(the Spark driver JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    return text[text.rindex(")") + 2:].split()


def descendants() -> list[int]:
    """Live processes below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process tree, including children
    that have already exited and been reaped."""
    total = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _CLK


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set sizes (VmHWM) of the live tree."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
