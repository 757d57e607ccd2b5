"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is the driver Python process, the Spark JVM it launched, and the
Python worker processes the JVM forks (``pyspark.daemon`` and its
workers). CPU is utime + stime + the reaped children's cutime + cstime,
so a worker that exits mid-run still counts through its parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str) -> tuple[str, int, float, int] | None:
    """(comm, ppid, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parens: split after the LAST ')'
    lpar, rpar = raw.find("("), raw.rfind(")")
    comm = raw[lpar + 1:rpar]
    rest = raw[rpar + 2:].split()
    # rest[0] is field 3 (state): utime..cstime are fields 14-17, rss 24
    ppid = int(rest[1])
    cpu = sum(int(x) for x in rest[11:15]) / _TICK
    return comm, ppid, cpu, int(rest[21]) * _PAGE


class TreeSample:
    """One reading of the tree: total CPU, CPU of the Python workers, RSS."""

    def __init__(self, cpu_s: float, worker_cpu_s: float, rss_bytes: int):
        self.cpu_s = cpu_s
        self.worker_cpu_s = worker_cpu_s
        self.rss_bytes = rss_bytes


def _all_stats() -> tuple[dict, dict[int, list[int]]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    return stats, children


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return False
    return raw[raw.rfind(")") + 2] != "Z"


def descendant_pids(root_pid: int) -> list[int]:
    _, children = _all_stats()
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def sample_tree(root_pid: int) -> TreeSample:
    stats, children = _all_stats()
    cpu = worker = 0.0
    rss = 0
    # walk down from the root; a Python process below a JVM is a worker
    todo = [(root_pid, False)]
    while todo:
        pid, under_jvm = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        comm, _, c, r = st
        cpu += c
        rss += r
        if under_jvm and comm.startswith("python"):
            worker += c
        below = under_jvm or comm == "java"
        todo.extend((k, below) for k in children.get(pid, ()))
    return TreeSample(cpu, worker, rss)


class PeakRss:
    """Background sampler of the tree's summed RSS; ``take()`` returns the
    peak since the previous ``take()``."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self._root = root_pid
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            rss = sample_tree(self._root).rss_bytes
            with self._lock:
                self._peak = max(self._peak, rss)

    def take(self) -> int:
        rss = sample_tree(self._root).rss_bytes
        with self._lock:
            peak, self._peak = max(self._peak, rss), rss
        return peak
