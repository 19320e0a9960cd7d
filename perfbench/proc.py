"""Process-tree figures read from /proc: resident memory and CPU time."""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (fields := _stat_fields(entry)) is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident memory of the tree."""
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def tree_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds used so far by the tree's live
    processes (and the children they have reaped)."""
    ticks = 0
    for pid in descendants(root_pid):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat:
    steal is time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(f) for f in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return fields[7], sum(fields[:8])
