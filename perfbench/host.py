"""Host facts and process-tree accounting read from /proc.

The benchmark's end-to-end CPU and memory figures cover the whole process
tree it starts: this Python process, the Spark JVM (a child) and the Python
workers the JVM forks. Wall time on a shared host swings with other tenants'
load, so CPU time is reported beside it.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    """CPUs this process may run on (affinity mask, not the host total)."""
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_facts() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(ram_bytes() / 2**30, 2),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we listed /proc
        # field 2 (comm) may hold spaces; everything after its ')' is fixed
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree, including reaped children.

    ``cutime``/``cstime`` fold in descendants that already exited (a Python
    worker that finished is charged to the daemon that waited for it)."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK_TCK


def tree_pss_mb() -> float:
    """Proportional set size of the live tree: pages shared between forked
    Python workers are split between them rather than counted per worker."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class PeakMemory:
    """Highest tree PSS seen by a sampling thread (every ``interval`` s)
    between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-memory", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self.samples += 1
            self._stop.wait(self.interval)

    def start(self) -> PeakMemory:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling (a second call does nothing) and return the peak."""
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=30)
            if self._thread.is_alive():
                raise RuntimeError("memory sampler did not stop")
        return self.peak_mb


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have descendants whose parent ends before them (the Python workers
    and daemon the Spark JVM forks) re-parented to this process, so that
    ``reap_children`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children(grace_s: float = 10.0) -> int:
    """Wait until this process has no child left, reaping each one.
    Descendants still running after ``grace_s`` get SIGTERM, after twice
    that SIGKILL. Returns the number of processes reaped."""
    reaped, start, sent = 0, time.monotonic(), None
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return reaped
        if pid:
            reaped += 1
            continue
        waited = time.monotonic() - start
        sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM if waited > grace_s else None
        if sig is not None and sig != sent:
            for victim in process_tree()[1:]:
                try:
                    os.kill(victim, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.02)


def _calib_task() -> float:
    """Pure single-threaded NumPy work (sort/sin, no BLAS threading)."""
    import numpy as np

    rng = np.random.default_rng(1)
    x = rng.standard_normal(1_500_000)
    for _ in range(5):
        x = np.sort(x * 1.0001 + np.sin(x))
    return float(x[0])


def calib_probe_s() -> float:
    """Seconds for one fixed single-core NumPy task: a throttled host shows
    as a slower probe."""
    t0 = time.perf_counter()
    _calib_task()
    return time.perf_counter() - t0
