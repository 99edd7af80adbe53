"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark process plus every descendant: the Spark
driver JVM and its Python workers. CPU time counts ``utime + stime``
of live processes plus ``cutime + cstime`` (time of reaped children),
so workers that exit between two readings are not lost. Resident
memory is the summed proportional set size (PSS): the Python workers
are forked from one daemon, and summing their RSS would count the
pages they share with it once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """user+sys CPU seconds of the tree, reaped children included."""
    ticks = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # stat fields 14-17 (1-based) are utime stime cutime
            # cstime; _stat drops fields 1-2, so field f is at f - 3
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    st = _stat(pid)  # no smaps_rollup: fall back to RSS
    return int(st[21]) * _PAGE // 1024 if st is not None else 0


def rss_mb(root: int) -> float:
    """Summed proportional set size of the tree in MB."""
    return sum(_pss_kb(pid) for pid in tree(root)) * 1024 / 1e6


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak_mb`` holds
    the largest sample since ``start``."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        return self.peak_mb
