"""CPU time and peak memory of this run's own process tree, read from
``/proc``: the driver (this Python process), the JVM it launched, and
the JVM's Python workers."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    todo, seen = [os.getpid() if root is None else root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat(pid: int) -> tuple[str, float, float] | None:
    """(comm, own CPU s, CPU s of reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    # after "pid (comm) ": fields[11..14] are utime, stime, cutime, cstime
    f = raw[raw.rindex(")") + 2 :].split()
    return comm, (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK


def cpu_by_class() -> dict[str, float]:
    """Cumulative CPU seconds of the tree split into driver, jvm and
    python (the JVM's worker descendants). A worker that exits is still
    counted, through its parent's reaped-children time."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
    for pid in tree(me):
        st = _stat(pid)
        if st is None:
            continue
        comm, own, reaped = st
        if pid == me:
            out["driver"] += own  # reaped time would include a dead JVM
        elif comm == "java":
            out["jvm"] += own
            out["python"] += reaped
        else:
            out["python"] += own + reaped
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every live process in
    the tree."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0
