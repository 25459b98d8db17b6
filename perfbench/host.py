"""Host diagnostics recorded beside every run: they make host drift
visible next to the numbers it distorts. None of them is an end-to-end
metric. Linux ``/proc`` only; on other systems the fields are ``None``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load_average() -> list[float] | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def steal_seconds() -> float | None:
    """Machine-wide CPU steal since boot, from the ``cpu`` line of
    /proc/stat (the 8th value, in clock ticks)."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / _TICK
    except (OSError, IndexError, ValueError):
        return None


def _stat(pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    rest = raw[raw.rfind(")") + 2 :].split()
    return int(rest[1]), rest


def descendants(root: int) -> list[int]:
    parent_of = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent_of[int(name)] = st[0]
    out, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent_of.items() if pp == pid]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_seconds(root: int | None = None) -> float | None:
    """User+system CPU of ``root`` and every live descendant (the JVM and
    its Python workers), plus what reaped children already used."""
    root = root or os.getpid()
    total = 0
    for i, pid in enumerate([root] + descendants(root)):
        st = _stat(pid)
        if st is None:
            continue
        f = st[1]
        # stat fields 14-17 (utime, stime, cutime, cstime); f starts at 3
        total += int(f[11]) + int(f[12])
        if i == 0:
            total += int(f[13]) + int(f[14])
    return total / _TICK


def jvm_hwm_mb(root: int | None = None) -> float | None:
    """Peak resident set (VmHWM) of the first java descendant."""
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().split(b"\0")[0]
            if not cmd.endswith(b"java"):
                continue
            with open(f"/proc/{pid}/status", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            continue
    return None
