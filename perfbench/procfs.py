"""Process-tree readings from ``/proc``: members, resident memory, CPU time.

The benchmark's Spark run is a tree: the worker Python process, the JVM it
launches, and the JVM's Python UDF workers. Each reading walks ``/proc`` once
and follows parent links down from a root pid.
"""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name is parenthesised and may itself hold spaces or ")"
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, str]:
    """{pid: start time} for root and all its descendants that are alive.
    The start time tells a live member from a later process reusing its pid."""
    children: dict[int, list[int]] = {}
    starts: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        # fields[1] is ppid (field 4 of stat), fields[19] is starttime (22)
        children.setdefault(int(fields[1]), []).append(int(name))
        starts[int(name)] = fields[19]
    if root not in starts:
        return {}
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        out[pid] = starts[pid]
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int, start: str) -> bool:
    fields = _stat_fields(pid)
    # a zombie (state Z) has ended; only its parent's wait is missing
    return fields is not None and fields[19] == start and fields[0] != "Z"


def rss_bytes(pids) -> int:
    """Summed resident set of the given pids (gone ones count 0)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def cpu_seconds(root: int) -> float:
    """User + system CPU of root's live tree, including the reaped children
    each member has waited for (cutime/cstime)."""
    total = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK
