"""Host facts read from /proc without spinning a CPU: load average and
steal time around a run, the CPU time of this process and everything it
started (the Spark JVM and the Python workers it forks), and
their peak resident memory."""

from __future__ import annotations

import os
import threading
import time


def snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"t": time.time(), "load1": load1, "steal_ticks": steal, "total_ticks": sum(cpu)}


def noise(before: dict, after: dict) -> dict:
    """Load averages at both ends and the share of CPU time stolen by the
    hypervisor in between."""
    total = after["total_ticks"] - before["total_ticks"]
    steal = after["steal_ticks"] - before["steal_ticks"]
    return {
        "load1_before": before["load1"],
        "load1_after": after["load1"],
        "steal_pct": round(100 * steal / total, 3) if total > 0 else 0.0,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int, reaped: bool) -> int:
    """utime + stime of ``pid``, plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11 : 15 if reaped else 13])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants. A
    descendant that exits and is reaped moves its time into its parent's
    children counters, so the sum only grows. Time stolen by the
    hypervisor is not in it."""
    me = os.getpid()
    kids = _children()
    todo, ticks = list(kids.get(me, [])), _cpu_ticks(me, reaped=False)
    while todo:
        pid = todo.pop()
        ticks += _cpu_ticks(pid, reaped=True)
        todo.extend(kids.get(pid, []))
    return ticks / _TICK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Resident memory of every descendant of ``root`` (not ``root``
    itself), in MB."""
    kids = _children()
    todo, total = list(kids.get(root, [])), 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024


class PeakRss:
    """Samples the descendants' summed RSS every ``interval`` seconds in
    a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
