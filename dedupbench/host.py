"""Process-tree CPU and memory from procfs, and the host's steal share.

The tree is this process and every descendant: the driver JVM launched by
PySpark and the Python workers it forks. Workers that exit are reaped by
their parent, so their CPU shows in the parent's cutime/cstime.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of the tree."""
    total = 0
    for pid in tree_pids():
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM), in MB."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def reset_peak_rss() -> None:
    """Reset every live tree process's peak resident set to its current
    one (``5`` to ``/proc/<pid>/clear_refs``), so the next reading covers
    only what ran since."""
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # the process has exited
            continue


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user
    return 100.0 * delta[7] / total if total else 0.0
