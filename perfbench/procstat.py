"""Process-tree readings from /proc: descendants, CPU time, peak RSS."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state is
    field 0, ppid field 1, utime field 11)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None and int(st[1]) == pid:
                out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = children(todo.pop())
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of ``pid`` and every live descendant,
    including what each has collected from children it reaped (a
    Python worker that exits is reaped by the worker daemon)."""
    total = 0
    for p in [pid] + descendants(pid):
        st = _stat(p)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
