"""Peak resident memory of a process tree, sampled from /proc.

The Spark process tree of a PySpark driver is the driver's Python
process, the JVM it launched, and the Python workers the JVM forks; a
background thread sums VmRSS over the tree rooted at this process and
keeps the peak.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; ppid follows the ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


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
    kids, todo, total = _children_map(), [root], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024


class PeakSampler:
    """``with PeakSampler() as s: ...`` then ``s.peak_mb``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s, self.peak_mb = interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
