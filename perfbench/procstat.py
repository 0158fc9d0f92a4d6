"""Process-tree sampler: peak resident memory and CPU time of this
process and every descendant (the Spark JVM and its Python workers).

A daemon thread walks ``/proc`` every ``interval`` seconds. Peak RSS
is the largest sum of resident set sizes over the tree seen at any sample; CPU
seconds are the last-seen ``utime + stime`` of every process that was
ever part of the tree, so a short-lived worker counts up to its last
sample (reaped children's ``cutime`` is ignored: it would count a
worker twice).
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode(errors="replace")
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _stat(pid: int) -> tuple[float, int] | None:
    """(cpu seconds, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is stat field 3 (state); utime, stime are fields 14, 15
    cpu = (int(fields[11]) + int(fields[12])) / _TICKS
    rss = int(fields[21]) * _PAGE
    return cpu, rss


class TreeSampler:
    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_rss = 0
        self._cpu: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._lock = threading.Lock()

    def sample(self) -> None:
        rss = 0
        seen = {}
        for pid in tree_pids(self.root):
            st = _stat(pid)
            if st is None:
                continue
            seen[pid] = st[0]
            rss += st[1]
        with self._lock:
            self._cpu.update(seen)
            self.peak_rss = max(self.peak_rss, rss)

    def cpu_seconds(self) -> float:
        with self._lock:
            return sum(self._cpu.values())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def steal_seconds() -> float:
    """CPU time the hypervisor took from this VM (all cores, since
    boot): co-tenancy that the load average does not show."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICKS if len(fields) > 8 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
