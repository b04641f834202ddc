"""Process-tree and host probes read from /proc.

The engine runs as one driver Python process, its JVM child, the JVM's
Python worker daemon and the daemon's forked workers. CPU time is
summed over that tree, including reaped children (cutime/cstime), so a
worker that exits mid-run still counts. Memory is the summed
proportional set size (Pss) of the live tree, sampled on a background
thread: a page the forked workers share copy-on-write with their daemon
counts once in total, not once per worker.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2 :].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime + cutime + cstime over the tree, in seconds."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def tree_pss_mb(root: int | None = None) -> float:
    total_kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


class MemSampler:
    """Peak tree Pss between ``start()`` and ``stop()``."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_pss_mb())
        return self.peak_mb


def cpu_fields() -> list[int]:
    """The host's aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    ``cpu_fields()`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    # user nice system idle iowait irq softirq steal; guest is inside user
    return delta[7] / (sum(delta[:8]) or 1)


class HostState:
    """nproc, loadavg at start and end, and the share of host CPU time
    spent in iowait and steal between the two, so a run on a loaded or
    starved host can be flagged from its record alone."""

    def __init__(self):
        self.nproc = os.cpu_count()
        self.load_start = os.getloadavg()
        self._cpu0 = cpu_fields()
        self._t0 = time.time()

    def record(self) -> dict:
        cpu1 = cpu_fields()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        busy = sum(delta[:8]) or 1  # user..steal; guest is inside user
        return {
            "nproc": self.nproc,
            "load1_start": self.load_start[0],
            "load1_end": os.getloadavg()[0],
            "iowait_share": round(delta[4] / busy, 4),
            "steal_share": round(steal_share(self._cpu0, cpu1), 4),
            "wall_s": round(time.time() - self._t0, 3),
        }
