"""Memory and disk use of a process tree, read from ``/proc``.

The Spark side of a PySpark program is the JVM its driver launches plus
the ``pyspark.daemon`` the JVM forks and that daemon's workers: every
descendant of the driver process. Their summed RSS is sampled on a thread;
written bytes come from ``write_bytes`` in ``/proc/<pid>/io``, which the
kernel folds into the parent when a worker exits and is reaped, so the
tree's total never loses an exited worker's writes.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1e6


def _ppid_map() -> dict[int, int]:
    out = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        # The command name may hold spaces or parentheses: split after it.
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(p.name)] = int(fields[1])
    return out


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` (``root`` itself excluded)."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def write_bytes(pid: int) -> int:
    try:
        for line in Path(f"/proc/{pid}/io").read_text().splitlines():
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class TreeMonitor:
    """Peak summed RSS and written bytes of the processes below ``root``.

    ``mark()`` starts a measured region; ``read()`` returns the peak RSS
    and bytes written since the last mark.
    """

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self._lock = threading.Lock()
        self._peak = 0
        self._base: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> TreeMonitor:
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _sample(self) -> int:
        return sum(rss_bytes(p) for p in descendants(self.root))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            rss = self._sample()
            with self._lock:
                self._peak = max(self._peak, rss)

    def mark(self) -> None:
        base = {p: write_bytes(p) for p in descendants(self.root)}
        rss = self._sample()
        with self._lock:
            self._base = base
            self._peak = rss

    def read(self) -> tuple[float, float]:
        """(peak RSS MB, written MB) since the last :meth:`mark`."""
        now = {p: write_bytes(p) for p in descendants(self.root)}
        # A process that was alive at the mark and has exited since was
        # reaped by a parent in the tree, which now carries its bytes;
        # its baseline still has to come off the total.
        written = sum(now.values()) - sum(self._base.values())
        rss = self._sample()
        with self._lock:
            peak = max(self._peak, rss)
        return peak / MB, max(written, 0) / MB
