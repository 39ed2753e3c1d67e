"""Resource use of a process tree, read from ``/proc`` outside the program.

The server's tree is its Python driver, the JVM it launches and Spark's
Python workers.  CPU counts user+system time of every live process plus
the children each has already reaped, so a worker that exits mid-run is
still counted once.  Peak memory is the sum of each live process's
``VmHWM``; :func:`name` tells the JVM (``java``) from the rest.
"""

from __future__ import annotations

import os

CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, proc: str) -> list[str] | None:
    try:
        with open(os.path.join(proc, str(pid), "stat")) as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def parents(proc: str = "/proc") -> dict[int, int]:
    """pid -> parent pid for every process visible in ``proc``."""
    out: dict[int, int] = {}
    for entry in os.listdir(proc):
        if entry.isdigit():
            fields = _stat_fields(int(entry), proc)
            if fields is not None:
                out[int(entry)] = int(fields[1])
    return out


def tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and all its descendants, parents before children."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in parents(proc).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(sorted(kids.get(pid, []), reverse=True))
    return out


def session(sid: int, proc: str = "/proc") -> list[int]:
    """Processes of session ``sid`` that have not ended (zombies excluded).

    A process keeps its session when it makes a process group of its
    own, as Spark's Python daemon does."""
    out = []
    for entry in os.listdir(proc):
        if entry.isdigit():
            fields = _stat_fields(int(entry), proc)
            # state, ppid, pgrp, session: fields 3-6 of stat(5)
            if fields is not None and fields[0] != "Z" and int(fields[3]) == sid:
                out.append(int(entry))
    return out


def name(pid: int, proc: str = "/proc") -> str | None:
    """The process's command name, None if it has ended."""
    try:
        with open(os.path.join(proc, str(pid), "comm")) as f:
            return f.read().strip()
    except OSError:
        return None


def cpu_seconds(pids: list[int], proc: str = "/proc") -> float:
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid, proc)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat(5)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / CLOCK_TICKS


def peak_rss_mib(pids: list[int], proc: str = "/proc") -> float:
    kib = 0
    for pid in pids:
        try:
            with open(os.path.join(proc, str(pid), "status")) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024
