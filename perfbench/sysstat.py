"""Host evidence for a run: resident memory of the process tree, and the
CPU steal / system share and load average of the timed window (a run on a
contended host shows as one)."""

from __future__ import annotations

import os
import threading


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


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of `root_pid` and all its descendants (the Spark driver JVM
    and the Python workers)."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(kids.get(pid, []))
    return total


class RssSampler:
    """Samples the process tree's resident memory every `interval` seconds
    between start() and stop(); `peak` is the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.samples.append(tree_rss_bytes(os.getpid()))
            self.peak = max(self.peak, self.samples[-1])
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak


def cpu_sample() -> list[int]:
    """Jiffy counters of /proc/stat line 1: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals + [0] * (8 - len(vals))


def cpu_window(s0: list[int], s1: list[int]) -> dict:
    d = [b - a for a, b in zip(s0, s1)]
    tot = max(sum(d), 1)
    return {"steal_pct": round(100.0 * d[7] / tot, 2), "sys_pct": round(100.0 * d[2] / tot, 2),
            "idle_pct": round(100.0 * d[3] / tot, 2), "load1": round(os.getloadavg()[0], 2)}
