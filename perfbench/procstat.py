"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark's own process plus every descendant: the JVM
that pyspark launches and the Python workers that JVM forks. CPU time
includes the ``cutime``/``cstime`` of each live process, which covers
children that already exited and were reaped (a Python worker that
ends mid-run is counted by its parent from then on).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the ')' that closes the command name (which may
    # itself hold spaces or parentheses); index 0 is the state field
    return data[data.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
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


def cpu_seconds(root: int) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat: the CPU
    time other tenants took from this machine's virtual CPUs, and all."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


def steal_share(since: tuple[int, int]) -> float:
    """Steal as a share of all host CPU time since ``host_cpu_ticks()``
    returned ``since``."""
    steal, total = host_cpu_ticks()
    return (steal - since[0]) / max(total - since[1], 1)


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def rss_bytes(root: int) -> int:
    """Resident memory of the tree as summed PSS: pages shared between
    processes are split among them. A plain RSS sum counts a forked
    child's pages twice — the JVM forks itself for every shell command
    it runs, which would add its whole RSS again for a moment."""
    total = 0
    for pid in tree_pids(root):
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended between listing and reading
            continue
    return total


class PeakRss:
    """Samples the tree's resident memory on a background thread until stop()."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, rss_bytes(self.root))
        return self.peak
