"""Process-tree accounting from /proc, and the box-speed reading.

The benchmark process starts the Spark JVM, which starts the Python
worker daemon and its workers. CPU and resident memory are summed over
that whole tree: the driver's own threads, the JVM and every worker.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat_fields(int(entry))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a worker that exits is charged to the parent that waited for it)."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21]) * _PAGE  # rss, field 24, in pages
    return total


class PeakRss:
    """Samples the tree's resident memory every ``period`` seconds on a
    background thread while the ``with`` block runs."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests (all cores), since
    boot: the 'steal' column of /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def box_speed(workers: int) -> float:
    """Seconds for ``workers`` processes to each finish a fixed pure-Python
    work unit (``boxspeed.py``). It runs in a child process so it shares
    nothing with the benchmark's interpreter, and the call waits for it."""
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(here, "boxspeed.py"), str(workers)],
        check=True, capture_output=True, text=True, timeout=120,
    )
    return float(out.stdout.strip().splitlines()[-1])
