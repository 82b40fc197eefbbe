"""Process-tree memory and host contention from /proc (Linux only).

The benchmark's process tree is this Python process, the Spark JVM it
launches and the JVM's Python workers. `TreeSampler` polls the tree's
resident memory on a thread; `HostLoad` compares the host's busy and steal
time with the CPU time the tree itself used, so a slow run can be told
apart from a run that shared the host with other work.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks) for every process."""
    out: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields after the command name: [1]=ppid, [11..14]=utime stime cutime cstime
        out[int(d)] = (int(rest[1]), sum(map(int, rest[11:15])))
    return out


def tree_pids(root: int, table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in table:
            out.append(p)
            stack.extend(kids.get(p, []))
    return out


def tree_cpu_ticks(root: int) -> int:
    """CPU ticks used by the tree: live members plus reaped children."""
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(root, table))


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class TreeSampler:
    """Peak resident memory of the process tree, polled every `period` s."""

    def __init__(self, root: int, period: float = 0.25):
        self.root, self.period = root, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return list(map(int, f.readline().split()[1:]))


class HostLoad:
    """Host busy/steal over an interval, net of the benchmark's own tree."""

    def __init__(self, root: int):
        self.root = root
        self.ncpu = os.cpu_count() or 1

    def __enter__(self) -> "HostLoad":
        self._c0, self._t0 = _cpu_line(), tree_cpu_ticks(self.root)
        return self

    def __exit__(self, *exc) -> None:
        c1, t1 = _cpu_line(), tree_cpu_ticks(self.root)
        d = [b - a for a, b in zip(self._c0, c1)]
        total = max(1, sum(d[:8]))  # user..steal; guest is already in user
        idle = d[3] + d[4]
        steal = d[7] if len(d) > 7 else 0
        own = t1 - self._t0
        self.wall_cpu_s = total / _HZ
        self.own_frac = own / total
        self.external_busy_frac = max(0, total - idle - steal - own) / total
        self.steal_frac = steal / total
