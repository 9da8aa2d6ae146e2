"""Process-tree and host readings from ``/proc`` (no psutil).

``TreeSampler`` follows a root process and every descendant. A background
thread samples resident memory every ``interval`` seconds and keeps the
peaks of the whole tree and of three parts of it: the root (the Python
driver), the ``java`` child (the Spark JVM) and everything else (the
Python workers the JVM forks). Memory is summed RSS, so pages a forked
worker still shares with its parent count once per process. ``cpu_seconds()`` sums user and system time
of the live tree, including the reaped children each process has waited
for, so work done by a worker that has since exited still counts.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int):
    """(comm, ppid, cpu_ticks, rss_bytes) of one process, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    lp, rp = raw.index("("), raw.rindex(")")
    comm = raw[lp + 1 : rp]
    rest = raw[rp + 2 :].split()
    # rest[0] is field 3 (state): ppid=4, utime..cstime=14..17, rss=24
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return comm, ppid, ticks, int(rest[21]) * _PAGE


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def tree(root: int) -> dict[int, tuple]:
    """{pid: (comm, ppid, cpu_ticks, rss_bytes)} for root and descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in procs.items():
        kids.setdefault(st[1], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, ()))
    return out


class TreeSampler:
    def __init__(self, root: int | None = None, interval: float = 0.05):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def _parts(self, procs: dict) -> dict:
        parts = {"driver": 0, "jvm": 0, "workers": 0}
        for pid, (_comm, ppid, _t, rss) in procs.items():
            if pid == self.root:
                parts["driver"] += rss
            elif _exe(pid) == "java":
                # a child the JVM forked shares the JVM's pages until it
                # execs; counting it would double the JVM for an instant
                if ppid == self.root:
                    parts["jvm"] += rss
            else:
                parts["workers"] += rss
        parts["total"] = sum(parts.values())
        return parts

    def sample(self) -> None:
        for k, v in self._parts(tree(self.root)).items():
            if v > self.peak[k]:
                self.peak[k] = v

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def cpu_seconds(self) -> float:
        return sum(st[2] for st in tree(self.root).values()) / _TICK

    def peak_mb(self) -> dict[str, float]:
        return {k: v / 2**20 for k, v in self.peak.items()}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already included in user/nice
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop plus a fixed 64 MB memory copy:
    a reading of how fast this host is right now. Recorded with each run to
    diagnose noisy sets; never used to adjust a result."""
    import numpy as np

    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    buf = np.ones(8 << 20)
    for _ in range(8):
        buf = buf.copy()
    return time.perf_counter() - t0
