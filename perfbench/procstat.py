"""CPU time and RSS of this process tree, read from /proc.

The tree is the benchmark's own Python process, the Spark JVM it launches,
and the JVM's Python daemon and workers. One sampler thread polls RSS
and keeps the peak; CPU is read on demand as a monotone counter (live
processes' own time plus the time of children they have reaped).
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Tuple

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")
SAMPLE_INTERVAL = 0.05  # s between RSS samples


def _stat(pid: int) -> Tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    rest = raw[raw.rfind(")") + 2:].split()
    ppid = int(rest[1])
    cpu = sum(int(x) for x in rest[11:15]) / TICK  # utime stime cutime cstime
    return ppid, cpu


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except OSError:
        return 0


def tree(root: int) -> Dict[int, float]:
    """pid -> cpu seconds for ``root`` and all its descendants."""
    info: Dict[int, Tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: Dict[int, List[int]] = {}
    for pid, (ppid, _) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1]
            todo.extend(kids.get(pid, []))
    return out


def descendants(root: int) -> List[int]:
    return [p for p in tree(root) if p != root]


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


class TreeSampler:
    """Peak summed RSS of the process tree while ``active``, in total
    (``peak_rss``) and over its Python processes alone (``peak_py_rss``:
    the benchmark's own process, the Python daemon and its workers); CPU
    via :meth:`cpu_s`. Use as a context manager."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self.peak_py_rss = 0
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        self._tid = threading.get_native_id()
        while not self._stop.wait(SAMPLE_INTERVAL):
            if self.active:
                total = py = 0
                for p in tree(self.root):
                    r = _rss(p)
                    total += r
                    if not _is_jvm(p):
                        py += r
                self.peak_rss = max(self.peak_rss, total)
                self.peak_py_rss = max(self.peak_py_rss, py)

    def cpu_s(self) -> float:
        """Tree CPU seconds, less this sampler thread's own."""
        own = 0.0
        try:
            with open(f"/proc/self/task/{self._tid}/stat") as fh:
                raw = fh.read()
            own = sum(int(x) for x in raw[raw.rfind(")") + 2:].split()[11:13]) / TICK
        except (AttributeError, OSError):
            pass
        return sum(tree(self.root).values()) - own

