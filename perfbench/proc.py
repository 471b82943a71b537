"""Process-tree CPU and memory from ``/proc``, plus the host guard.

The measured process tree is this driver, the JVM it launches and the
Python workers the JVM forks.  Its CPU time is the sum over living
members of ``utime + stime + cutime + cstime``: a worker that exits is
reaped by the worker daemon, whose ``cutime``/``cstime`` then carry its
time, so nothing that ran inside the tree is lost.
"""

from __future__ import annotations

import os
import platform
import threading
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def wait_ended(pids, timeout: float) -> None:
    """Wait until each of ``pids`` has exited (gone or a zombie)."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            st = _stat(pid)
            if st is None or st[0] == "Z":
                break
            time.sleep(0.05)


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds consumed so far by the tree rooted at ``root``."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat, counted after the name
            ticks += sum(int(v) for v in st[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the tree's summed RSS on a thread; ``peak`` is the
    largest sum since ``start`` that held for two samples in a row.

    A child the JVM starts (posix_spawn, as vfork) shares the JVM's
    memory until it runs its program, and ``/proc`` shows the JVM's RSS
    for it meanwhile.  A sample that caught such an instant read 5.9 to
    8 GB instead of 3.8 GB in about one ``tile_pipeline`` run in five.
    """

    def __init__(self, root: int, interval: float = 0.05):
        self.root, self.interval = root, interval
        self.peak = self._last = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def _sample(self):
        now = tree_rss_bytes(self.root)
        self.peak = max(self.peak, min(now, self._last))
        self._last = now

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def cpu_probe() -> float:
    """Seconds for a fixed single-threaded numpy job (no BLAS, no Spark):
    the same work before and after a workload shows whether the host
    itself got slower while the workload ran."""
    rng = np.random.RandomState(0)
    a = rng.uniform(size=1 << 20)
    t0 = time.perf_counter()
    for _ in range(4):
        b = np.sort(a)
        a = np.sqrt(b * 1.0001 + 0.5) % 1.0
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this one
    wanted them (the ``steal`` column of ``/proc/stat``), all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_info(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
