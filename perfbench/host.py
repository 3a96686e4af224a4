"""Host context: core count, stolen CPU time, and the resident memory of
the Spark driver JVM plus every process under it (the Python worker daemon
and workers), read from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine since boot, from
    /proc/stat: time the hypervisor gave this machine's vCPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _tree_rss(root: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the RSS of a process tree every `interval` seconds on a
    background thread between start() and stop(); `peak` is the largest
    sum seen, in bytes."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak = max(self.peak, _tree_rss(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self):
        self._thread.start()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
