"""Measurement helpers that need no Spark: order statistics, the CPU
calibration probe and the process-tree peak-RSS sampler."""

from __future__ import annotations

import math
import os
import threading
import time

import numpy as np


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no samples")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def tail(values, beyond: int = 10):
    """(percentile, value): the highest whole percentile that leaves at
    least ``beyond`` samples above it (nearest rank). Under ``4 * beyond``
    samples that would sit below p75, so the count beyond shrinks to a
    quarter of the samples: from four samples on, the tail does not read
    the single slowest one, which one hiccup of a shared host sets. Under
    four it is the maximum, as percentile 100."""
    v = sorted(values)
    n = len(v)
    if n < 4:
        return 100, v[-1]
    beyond = min(beyond, n // 4)
    pct = math.floor(100 * (n - beyond) / n)
    rank = max(1, math.ceil(pct / 100 * n))
    return pct, v[rank - 1]


def cpu_probe() -> float:
    """Seconds for a fixed numpy + pure-Python loop. Run at the start and
    end of every benchmark run: host contention shows as probe drift,
    not as a regression of the program."""
    t0 = time.perf_counter()
    rng = np.random.default_rng(0)
    a = rng.random((256, 256))
    for _ in range(10):
        a = (a @ a) / 256.0
    np.sort(rng.random(300_000))
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def host_cpu_ticks() -> list[int]:
    """The machine's CPU time counters (/proc/stat): user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a run that reads slow with a high share was slowed by the host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _children_index() -> dict:
    """ppid -> [pid] over every process visible in /proc."""
    index: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        index.setdefault(ppid, []).append(int(name))
    return index


def _hwm_kb(pid: int) -> int:
    """The process's own resident-memory peak so far (VmHWM)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_peaks_kb(root: int) -> dict:
    """The resident peaks (pid -> kB) of ``root`` and every live descendant
    (the Spark JVM, Python workers): each process's own peak is exact, so a
    short spike between two samples is not missed. Of the JVM's children
    only Python processes count: the others are short-lived helpers it
    spawns, which report the JVM's own resident set while they start."""
    index = _children_index()
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        out[pid] = _hwm_kb(pid)
        kids = index.get(pid, ())
        if _comm(pid) == "java":
            kids = [k for k in kids if _comm(k).startswith("python")]
        stack.extend(kids)
    return out


class PeakRss:
    """Samples the process tree's resident peaks on a background thread
    (psutil is not available); ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self.parts: dict = {}  # pid -> (command, MB) at the peak
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        peaks = tree_peaks_kb(os.getpid())
        mb = sum(peaks.values()) / 1024
        if mb > self.peak_mb:
            parts = {pid: (_comm(pid), kb / 1024) for pid, kb in peaks.items()}
            with self._lock:
                self.peak_mb, self.parts = mb, parts

    def snapshot(self) -> tuple[float, dict]:
        """(peak MB, its pid -> (command, MB) breakdown), read together."""
        with self._lock:
            return self.peak_mb, self.parts

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
