"""Order statistics and the process-tree memory sampler."""

from __future__ import annotations

import math
import os
import threading


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``p`` percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile rank {p} outside (0, 100]")
    return xs[max(1, math.ceil(p / 100 * len(xs))) - 1]


_PAGE = os.sysconf("SC_PAGE_SIZE")


_PF_FORKNOEXEC = 0x40


def tree_rss_bytes(root_pid: int) -> dict[str, int]:
    """Resident bytes of ``root_pid`` and all its descendants by command
    name (``java``, ``python3``, ...), from ``/proc/<pid>/stat`` (field 2
    is the command, 4 the parent, 9 the flags, 24 the RSS in pages).

    A child that has not exec'd since it was forked and whose RSS is
    within 1 % of its parent's is skipped: it shares its parent's pages
    (a ``vfork`` child, as the JVM starts processes from its task
    threads, or a fresh fork) and would count them twice."""
    procs: dict[int, tuple[str, int, int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        end = stat.rindex(")")
        fields = stat[end + 2 :].split()
        procs[int(name)] = (
            stat[stat.index("(") + 1 : end], int(fields[1]), int(fields[6]),
            int(fields[21]) * _PAGE,
        )
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    totals: dict[str, int] = {}
    frontier = [root_pid]
    while frontier:
        pid = frontier.pop()
        if pid not in procs:
            continue
        comm, _, _, rss = procs[pid]
        totals[comm] = totals.get(comm, 0) + rss
        for child in children.get(pid, ()):
            _, _, flags, child_rss = procs[child]
            if not (flags & _PF_FORKNOEXEC and abs(child_rss - rss) <= rss / 100):
                frontier.append(child)
    return totals


class PeakRss:
    """Samples :func:`tree_rss_bytes` of this process every
    ``interval`` seconds on a daemon thread while active. ``peak`` is
    the highest sum over the Python processes (this driver, the worker
    daemon and its workers), ``jvm_peak`` the JVM's highest RSS."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.jvm_peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            rss = tree_rss_bytes(pid)
            jvm = rss.pop("java", 0)
            self.peak = max(self.peak, sum(rss.values()))
            self.jvm_peak = max(self.jvm_peak, jvm)
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
