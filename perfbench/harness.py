"""State shared by the workloads of one benchmark run: the clock that
separates set-up from measurement, the failure tally, and the metric
helpers."""

from __future__ import annotations

import statistics
import sys
import time
from contextlib import contextmanager
from typing import Optional

from perfbench.spans import Tracer


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; the
    median when there are too few samples for one above it."""

    ordered = sorted(values)
    return ordered[max(len(ordered) // 2, len(ordered) - 11)] if ordered else 0.0


class Run:
    """One benchmark run: its settings, its set-up clock, its failure
    tally and the per-layer metrics the workload fills in."""

    def __init__(self, spark, *, seed: int, seconds: float, trace: bool,
                 data_dir: str, cache_dir: str, cores: int, started: float):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.cores = cores
        self.tracer = Tracer(spark, enabled=False)
        self.started = started  # perf_counter at process start
        self.setup_s: Optional[float] = None
        self.measure_start = 0.0
        self._excluded = 0.0  # benchmark-only time before measurement
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.findings: list[str] = []
        self.per_layer: dict[str, float] = {}

    @contextmanager
    def excluded(self):
        """Benchmark-only work (output checks, instrumentation) that
        set-up time must not count."""

        t = time.perf_counter()
        try:
            yield
        finally:
            if self.setup_s is None:
                self._excluded += time.perf_counter() - t

    def setup_done(self) -> None:
        self.measure_start = time.perf_counter()
        self.setup_s = self.measure_start - self.started - self._excluded

    def measuring(self, passes: int, traced_minimum: int = 2) -> bool:
        """Keep measuring until ``seconds`` have passed. A traced run
        alternates untraced and traced passes and needs at least
        ``traced_minimum`` of them."""

        if passes < (traced_minimum if self.trace else 1):
            return True
        return time.perf_counter() - self.measure_start < self.seconds

    def op(self, ok: bool, what: str = "") -> None:
        """Count one timed operation and whether it succeeded."""

        self.attempted += 1
        if not ok:
            self.failed += 1
            self.finding(what)

    def finding(self, what: str) -> None:
        """An output check failed or an operation raised."""

        self.correct = False
        if what and what not in self.findings:
            self.findings.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)
