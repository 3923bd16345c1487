"""Shared workload plumbing: the run context and the set-up timer."""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

from perfbench.trace import Tracer


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    tracer: Tracer
    work: str
    anchor: Anchor
    scale: float = 1.0
    failures: list = field(default_factory=list)
    attempted: int = 0  # checked operations
    failed: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; ``what`` says how it went wrong."""
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(what)


SETUP_REPEATS = 7


def timed_setup(ctx: Context, build, teardown=None) -> tuple[list[float], object]:
    """Run ``build(dir)`` ``SETUP_REPEATS`` times into fresh directories
    and time each; all but the last build are torn down. Returns (times,
    result of the last build)."""
    times, out = [], None
    for i in range(SETUP_REPEATS):
        d = ctx.path(f"setup{i}")
        sw = Stopwatch()
        out = build(d)
        times.append(sw.seconds())
        if i + 1 < SETUP_REPEATS:
            if teardown is not None:
                teardown(out)
            shutil.rmtree(d, ignore_errors=True)
    return times, out


def cpu_times() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the machine since boot, from /proc/stat.
    Stolen ticks are those the hypervisor gave to other guests while this
    one had work to run; (0, 0) where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as f:
            user, nice, system, _idle, _iowait, irq, softirq, steal = (
                int(x) for x in f.readline().split()[1:9])
    except (OSError, ValueError):
        return 0, 0
    return user + nice + system + irq + softirq, steal


def granted(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the CPU time wanted between samples ``a`` and ``b`` that
    the host granted: busy / (busy + stolen); 1.0 with no steal."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


class Stopwatch:
    """Times an interval. ``seconds()`` is the wall time scaled by the
    share of CPU time the host granted over it, an estimate of the wall
    time on a machine nobody else shares; ``raw()`` is the plain wall
    time. Every timing the benchmark reports is taken this way."""

    def __init__(self):
        self.c0 = cpu_times()
        self.t0 = time.perf_counter()

    def raw(self) -> float:
        return time.perf_counter() - self.t0

    def seconds(self) -> float:
        return self.raw() * granted(self.c0, cpu_times())


ANCHOR_REF_S = 0.4  # the anchor job's time on an unloaded 4-core host
ANCHOR_ROWS = 200_000_000


class Anchor:
    """Host-speed anchor for the timed section of a run.

    On a shared host, other guests slow a whole run by up to a half, and
    only part of that shows as stolen CPU time. So the timed section is
    bracketed and punctuated with a fixed CPU-bound Spark job that runs
    none of the engine's code (a smaller copy of ``bench.py``'s), and
    every end-to-end timing of the run is multiplied by ``factor()``:
    ``ANCHOR_REF_S`` over the median anchor time. The timings then read
    as on a host where the anchor takes ``ANCHOR_REF_S``. Disabled
    (factor 1) in the traced run, whose Spark counters it would pollute."""

    def __init__(self, spark, enabled: bool = True):
        self.spark, self.enabled = spark, enabled
        self.times: list[float] = []

    def _job(self) -> None:
        self.spark.range(ANCHOR_ROWS).selectExpr(
            "sum((id % 100003) * 3 + (id % 13))").collect()

    def warm(self) -> None:
        """Three untimed runs, so that the timed ones run compiled code."""
        for _ in range(3 if self.enabled else 0):
            self._job()

    def mark(self) -> None:
        """Time the anchor once, now."""
        if self.enabled:
            sw = Stopwatch()
            self._job()
            self.times.append(sw.seconds())

    def factor(self) -> float:
        if not self.times:
            return 1.0
        return ANCHOR_REF_S / statistics.median(self.times)


def anchored(named: dict, f: float) -> dict:
    """Apply the anchor factor to every timing (s, ms) and rate (1/s) of
    a ``{name: (value, unit)}`` map."""
    out = {}
    for k, (v, unit) in named.items():
        if unit in ("s", "ms"):
            v = v * f
        elif unit == "1/s":
            v = v / f
        out[k] = (v, unit)
    return out
