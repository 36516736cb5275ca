"""Process-tree CPU and memory readers over ``/proc``.

The engine runs as three kinds of process: the driver Python, the JVM it
launches and the Python workers the JVM forks. Their CPU and memory are
read here straight from ``/proc``, so no Spark event log is needed.

CPU of a tree is the sum over its live members of ``utime + stime +
cutime + cstime``: a member that exits is reaped by its parent, whose
``cutime``/``cstime`` then carry its CPU, so the sum never loses work
done by short-lived Python workers and never counts it twice.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, which
    may itself hold spaces and parentheses: index 0 is the state,
    1 the parent pid, 11..14 utime, stime, cutime, cstime."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None, proc: str = "/proc") -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name), proc)
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int], proc: str = "/proc") -> float:
    """User + system CPU of ``pids`` and of their reaped children."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid, proc)
        if fields is not None:
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / CLK_TCK


def peak_rss_mb(pids: list[int], proc: str = "/proc") -> float:
    """Sum of the members' peak resident set (``VmHWM``), in MiB."""
    kb = 0
    for pid in pids:
        try:
            with open(os.path.join(proc, str(pid), "status")) as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def tree_cpu_seconds(root: int | None = None, proc: str = "/proc") -> float:
    return cpu_seconds(tree_pids(root, proc), proc)


def tree_peak_rss_mb(root: int | None = None, proc: str = "/proc") -> float:
    return peak_rss_mb(tree_pids(root, proc), proc)
