"""Process-tree sampler over /proc for the Spark JVM and its Python
workers.

The tree is every descendant of this process: the JVM that pyspark
launches, the pyspark daemon it starts and the workers the daemon forks.
CPU seconds are utime+stime of each live descendant plus cutime+cstime,
which the kernel adds to a parent when it reaps a child; so a worker
that exits and is reaped by the daemon still counts. One thread samples
the summed RSS of the Python workers (the daemon's children) to keep the
peak between ``start_window`` and ``window_peak_mb``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields 3.. of /proc/pid/stat (state, ppid, ...)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> dict[int, list[str]]:
    """pid → stat fields for every live descendant of ``root``."""
    stats, children = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def _read(path: str) -> str | None:
    try:
        with open(path, "rb") as fh:
            return fh.read().decode(errors="replace")
    except OSError:
        return None


class ProcessTreeSampler:
    def __init__(self, period_s: float = 0.1):
        self.root = os.getpid()
        self.period_s = period_s
        self._lock = threading.Lock()
        self._peak = 0
        self._daemon: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def cpu_seconds(self) -> float:
        """user+sys CPU of the tree, including reaped descendants."""
        ticks = 0
        for rest in descendants(self.root).values():
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in rest[11:15])
        return ticks / _TICK

    def _workers(self) -> list[int]:
        """Children of the pyspark daemon; finds the daemon (the
        descendant running pyspark.daemon whose parent does not) once."""
        if self._daemon is not None:
            kids = _read(f"/proc/{self._daemon}/task/{self._daemon}/children")
            if kids is not None:
                return [int(p) for p in kids.split()]
            self._daemon = None
        tree = descendants(self.root)
        daemons = {pid for pid in tree
                   if "pyspark.daemon" in (_read(f"/proc/{pid}/cmdline")
                                           or "")}
        for pid in daemons:
            if int(tree[pid][1]) not in daemons:
                self._daemon = pid
        return [pid for pid, rest in tree.items()
                if self._daemon is not None and int(rest[1]) == self._daemon]

    def worker_rss_bytes(self) -> int:
        """Summed RSS of the processes forked by the pyspark daemon."""
        total = 0
        for pid in self._workers():
            statm = _read(f"/proc/{pid}/statm")
            if statm:
                total += int(statm.split()[1]) * _PAGE
        return total

    def start_window(self) -> None:
        with self._lock:
            self._peak = 0

    def window_peak_mb(self) -> float:
        rss = self.worker_rss_bytes()
        with self._lock:
            self._peak = max(self._peak, rss)
            return self._peak / 2**20

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            rss = self.worker_rss_bytes()
            with self._lock:
                self._peak = max(self._peak, rss)
