"""Process-tree CPU and memory readings from ``/proc``.

The benchmark's driver process owns a JVM (the py4j gateway), which owns
the PySpark Python workers. The PySpark daemon ignores ``SIGCHLD``, so
the kernel reaps its exited workers without adding their CPU time to
any parent: a one-off reading of the live tree loses it. ``TreeSampler``
therefore polls the tree and keeps the last CPU reading of every process
it has seen, exited ones included.

It also tracks the JVM's JIT-compiler threads separately: compilation is
a warm-up cost that keeps falling for many iterations, and counting it
would make a warm iteration's CPU measure the compiler, not the work.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
#: ``comm`` prefixes of HotSpot's JIT-compiler threads.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    pids = [root or os.getpid()]
    i = 0
    while i < len(pids):
        pids.extend(_children(pids[i]))
        i += 1
    return pids


def _stat(path: str) -> tuple[int, float] | None:
    """(start tick, own user+system CPU s) from a ``stat`` file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'.
    # utime, stime and starttime are stat(5) fields 14, 15 and 22.
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[19]), (int(fields[11]) + int(fields[12])) / _CLK_TCK


def read_proc(pid: int) -> tuple[int, float, float, bool] | None:
    """(start tick, own user+system CPU s, VmHWM MiB, is a PySpark worker)
    of ``pid``, or None once it has gone."""
    stat = _stat(f"/proc/{pid}/stat")
    try:
        with open(f"/proc/{pid}/status") as f:
            status = f.read()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmdline = f.read()
    except OSError:
        return None
    if stat is None:
        return None
    hwm = 0.0
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            hwm = int(line.split()[1]) / 1024
            break
    is_worker = b"pyspark.daemon" in cmdline or b"pyspark.worker" in cmdline
    return stat[0], stat[1], hwm, is_worker


class TreeSampler:
    """Polls this process tree every ``interval`` seconds.

    ``cpu_seconds()`` is the CPU used by every process seen so far,
    JIT compilation excluded; ``py_cpu_seconds()`` the same for PySpark
    Python workers; ``peak_rss_mb`` the largest summed ``VmHWM`` of the
    live tree."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss_mb = 0.0
        self._cpu: dict[tuple[int, int], float] = {}
        self._py: set[tuple[int, int]] = set()
        self._jit: dict[tuple[int, int], float] = {}
        self._thread_names: dict[tuple[int, int], str] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def sample(self) -> None:
        with self._lock:
            hwm_sum = 0.0
            for pid in tree():
                info = read_proc(pid)
                if info is None:
                    continue
                start, cpu, hwm, is_py = info
                self._cpu[(pid, start)] = cpu
                if is_py:
                    self._py.add((pid, start))
                hwm_sum += hwm
                self._sample_jit(pid)
            self.peak_rss_mb = max(self.peak_rss_mb, hwm_sum)

    def _sample_jit(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        if len(tids) < 2:
            return
        for tid in tids:
            key = (pid, int(tid))
            name = self._thread_names.get(key)
            if name is None:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        name = self._thread_names[key] = f.read().strip()
                except OSError:
                    continue
            if name.startswith(_JIT_THREADS):
                stat = _stat(f"/proc/{pid}/task/{tid}/stat")
                if stat is not None:
                    self._jit[key] = stat[1]

    def cpu_seconds(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._cpu.values()) - sum(self._jit.values())

    def py_cpu_seconds(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._cpu[k] for k in self._py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> TreeSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
