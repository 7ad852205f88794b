"""CPU time and peak resident memory of a process tree, read from /proc.

The benchmark's tree is its own Python process, the Spark JVM it
launches and the Python workers the JVM forks.  CPU time counts
``utime + stime`` of every live process plus ``cutime + cstime``, which
holds the time of children already reaped, so a Python worker that exits
between two readings is still charged to the tree.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User plus system CPU seconds of ``pids``, reaped children included."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] are utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size (``VmHWM``) of ``pid`` in KiB, 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeMonitor:
    """Samples the tree rooted at this process.  ``peak_rss_mb`` sums,
    over every process ever seen, the largest ``VmHWM`` it reported, so
    a worker that exits still counts with its last reading."""

    def __init__(self) -> None:
        self._hwm_kb: dict[int, int] = {}

    def cpu_seconds(self) -> float:
        pids = self.sample()
        return cpu_seconds(pids)

    def sample(self) -> list[int]:
        pids = tree_pids()
        for pid in pids:
            self._hwm_kb[pid] = max(self._hwm_kb.get(pid, 0), vm_hwm_kb(pid))
        return pids

    def peak_rss_mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024.0

    def peaks_mb(self) -> dict[int, float]:
        """Peak resident MB per process seen."""
        return {pid: kb / 1024.0 for pid, kb in self._hwm_kb.items()}
