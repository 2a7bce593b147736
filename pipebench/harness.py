"""Process-tree and host accounting from /proc, plus small statistics.

The benchmark's process tree is this interpreter, the JVM it launches
and the JVM's Python workers. CPU is summed over the live tree
(utime + stime of every member plus cutime + cstime, which carries
reaped children); resident memory is the sum of each member's RssAnon,
sampled by a background thread. Host figures (steal share, load
average) are context only: nothing is rescaled, gated or retried on
them.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in tree(root):
        try:
            stat = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_anon_mb(root: int) -> float:
    kb = 0
    for pid in tree(root):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("RssAnon:"):
                    kb += int(line.split()[1])
                    break
        except OSError:
            continue
    return kb / 1024


class RssPeak:
    """Background sampler of the tree's anonymous RSS; `peak_mb` is the
    largest sum seen since the last `reset`."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root, self.period = root, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.period):
            self.peak_mb = max(self.peak_mb, tree_rss_anon_mb(self.root))

    def reset(self):
        self.peak_mb = tree_rss_anon_mb(self.root)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Host:
    """nproc, RAM, and steal share and load average over a window."""

    def __init__(self):
        self._t0 = _cpu_times()

    def context(self) -> dict:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self._t0, t1)]
        steal = d[7] if len(d) > 7 else 0
        with open("/proc/meminfo") as f:
            mem_kb = int(f.readline().split()[1])
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        return {"nproc": os.cpu_count(),
                "ram_gb": round(mem_kb / 2**20, 1),
                "steal_share": round(steal / max(1, sum(d)), 4),
                "loadavg_1_5_15": load}


class Clock:
    """Monotonic seconds since construction."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0

