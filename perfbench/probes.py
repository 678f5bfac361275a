"""Measurement from outside the program: machine CPU, process-tree RSS,
JVM thread CPU, and timing wrappers around public state-store and bloom
methods."""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict

_HZ = os.sysconf("SC_CLK_TCK")
_NCPU = os.cpu_count() or 1


def machine_cpu_s() -> float:
    """Machine-wide user+nice+system CPU seconds since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return (int(parts[1]) + int(parts[2]) + int(parts[3])) / _HZ


def clock() -> float:
    """Seconds on the monotonic clock less the mean per-CPU steal: time
    the hypervisor gave this machine's CPUs to other guests is taken out,
    so a neighbour's load does not read as a slower program."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / _HZ
    return time.monotonic() - steal / _NCPU


def jvm_thread_cpu_s(spark, name: str) -> float:
    """CPU seconds used so far by the driver-JVM thread called ``name``
    (0.0 if there is none)."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    for t in jvm.java.lang.Thread.getAllStackTraces().keySet():
        if t.getName() == name:
            return max(0, mx.getThreadCpuTime(t.getId())) / 1e9
    return 0.0


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = defaultdict(list)
    parent: dict[int, int] = {}
    pages: dict[int, tuple[int, int]] = {}  # (virtual size, resident)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                size, resident = f.read().split()[:2]
        except (OSError, ValueError):
            continue  # the process ended while we read it
        pid = int(name)
        pages[pid] = (int(size), int(resident))
        parent[pid] = int(stat.rsplit(")", 1)[1].split()[1])
        children[parent[pid]].append(pid)
    kb_per_page = os.sysconf("SC_PAGE_SIZE") // 1024
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        # A child the JVM spawns shares the JVM's address space until it
        # execs, and a just-forked Python worker still shares every page
        # with its daemon: both show their parent's virtual size. Counting
        # their resident pages again would add a phantom JVM-sized spike.
        if pid in pages and pages[pid][0] != pages.get(parent[pid], (None,))[0]:
            total += pages[pid][1] * kb_per_page
    return total


class PeakRss:
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) every ``period`` seconds; ``peak_mb`` is the
    largest sum seen, with a child that still shares its parent's memory
    left out."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


class LayerTimer:
    """Wall-time totals of wrapped methods, keyed by layer name. Safe to
    call from the engine's concurrent superstep chains."""

    def __init__(self):
        self.secs: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._undo: list[tuple[type, str, object]] = []

    def wrap(self, cls: type, method: str, key) -> None:
        """Time ``cls.method``; ``key(args, kwargs)`` names the layer."""
        orig = getattr(cls, method)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with self._lock:
                    self.secs[key(args, kwargs)] += dt

        self._undo.append((cls, method, orig))
        setattr(cls, method, timed)

    def __enter__(self) -> "LayerTimer":
        return self

    def __exit__(self, *exc) -> None:
        for cls, method, orig in reversed(self._undo):
            setattr(cls, method, orig)
        self._undo.clear()
