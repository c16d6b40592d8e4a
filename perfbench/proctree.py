"""Process-tree readings from ``/proc`` (psutil is not installed):
memory for the supervisor, CPU time for the worker."""

from __future__ import annotations

import os

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stats():
    """(pid, fields after comm) of every live process."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces; the fields after its closing paren don't.
        yield int(name), stat[stat.rfind(")") + 2 :].split()


def procs():
    """(pid, state, ppid, pgid) of every live process."""
    for pid, fields in _stats():
        yield pid, fields[0], int(fields[1]), int(fields[2])


def _tree(root_pid: int, parent: dict[int, int]) -> set[int]:
    pids, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in pids:
                pids.add(c)
                frontier.append(c)
    return pids


def tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of root_pid and all its descendants."""
    total = 0
    for p in _tree(root_pid, {pid: ppid for pid, _, ppid, _ in procs()}):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def tree_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds of root_pid and all its descendants,
    including children they have already reaped (Spark's Python workers)."""
    stats = dict(_stats())
    pids = _tree(root_pid, {pid: int(f[1]) for pid, f in stats.items()})
    # utime, stime, cutime, cstime are fields 14-17 of stat, 11-14 here.
    return _TICK_S * sum(sum(int(x) for x in stats[p][11:15]) for p in pids)
