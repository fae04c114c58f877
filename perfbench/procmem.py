"""Peak resident memory of a process tree, sampled from /proc.

The benchmark's driver process, the JVM it launches and the JVM's
Python workers form one process tree. A background thread sums VmRSS
over the tree every ``interval`` seconds. The peak is the largest sum
held over two consecutive samples: a child the JVM has forked but not
yet exec'd reports the JVM's whole resident set for a few milliseconds,
and a single sample caught in that window would count the JVM twice.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Context manager sampling the summed VmRSS of ``root``'s tree."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_kb = 0
        self._prev_kb: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(rss_kb(p) for p in tree_pids(self.root))
        if self._prev_kb is not None:
            self.peak_kb = max(self.peak_kb, min(total, self._prev_kb))
        self._prev_kb = total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
