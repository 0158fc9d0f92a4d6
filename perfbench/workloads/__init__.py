"""Benchmark workloads. Each drives the engine through its public API
as one closed-loop client with no think time.

A workload is built in :meth:`Workload.setup` (inputs, fixture
tables, warm state) and then runs whole *units* of work until the
measuring time is up. Every engine call in a unit is an operation:
it is timed, counted in ``attempted``, and counted in ``failed`` when
it raises or when its output check fails.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass

from tracer import NullTracer


@dataclass
class Unit:
    """Seconds spent in the operations of one unit of work, and in its
    write-side and read-side operations."""

    seconds: float
    write_s: float
    read_s: float


@dataclass
class Metric:
    value: float
    unit: str
    note: str = ""


class Workload:
    name = ""
    #: input scale when the constructor is given none
    scale = 0.01

    def __init__(self, spark, work_dir: str, seed: int, tracer=None,
                 scale: float | None = None, sampler=None):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer or NullTracer()
        self.scale = self.scale if scale is None else scale
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: dict[str, list[float]] = defaultdict(list)
        #: per-layer samples only the workload can take (traced run)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.units: list[Unit] = []
        #: process-tree sampler (``procstat.TreeSampler``) for op CPU time
        self.sampler = sampler
        #: running totals of op latencies and op CPU seconds; a unit's
        #: figures are their deltas, so the benchmark's own checks and
        #: model updates between ops never count
        self.op_seconds = 0.0
        self.op_cpu = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, kind: str, fn, *args, **kwargs):
        """Run one timed engine operation."""
        self.attempted += 1
        c0 = self._cpu()
        t0 = time.monotonic()
        with self.tracer.span(f"op.{kind}"):
            out = fn(*args, **kwargs)
        dt = time.monotonic() - t0
        self.op_cpu += self._cpu() - c0
        self.lat[kind].append(dt)
        self.op_seconds += dt
        return out

    def _cpu(self) -> float:
        """CPU seconds of the process tree so far (0 without a sampler)."""
        if self.sampler is None:
            return 0.0
        self.sampler.sample()
        return self.sampler.cpu_seconds()

    def expect(self, problem: str | None) -> None:
        """Record an output-check result; a mismatch is a failed op."""
        if problem is not None:
            self.failed += 1
            self.errors.append(problem)

    # -- to implement ------------------------------------------------------

    def setup(self) -> None:
        raise NotImplementedError

    def unit(self) -> Unit:
        raise NotImplementedError

    def after_unit(self) -> None:
        """Output checks of the unit that just finished; they run
        outside the unit's time and CPU accounting."""

    def check(self, corrupt: bool = False) -> list[str]:
        """Compare the engine's current output with the DuckDB
        reference; returns the mismatches (empty when correct).
        ``corrupt`` alters one expected row first."""
        raise NotImplementedError

    def final_check(self) -> list[str]:
        """The check that runs once the measuring time is up."""
        return self.check()

    def detail(self) -> dict[str, Metric]:
        """The workload's own end-to-end metrics, by name."""
        raise NotImplementedError


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """Highest percentile with at least ``min_beyond`` samples above it:
    returns (value, percentile, sample count). With fewer than
    ``min_beyond + 1`` samples there is no such tail; the max is
    returned with percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= min_beyond:
        return xs[-1], 100.0, n
    k = n - min_beyond - 1  # index with exactly min_beyond samples after it
    return xs[k], 100.0 * (k + 1) / n, n


WORKLOADS: dict[str, type[Workload]] = {}


def register(cls: type[Workload]) -> type[Workload]:
    WORKLOADS[cls.name] = cls
    return cls


def load_all() -> dict[str, type[Workload]]:
    from workloads import churn, corpus, migrate  # noqa: F401

    return WORKLOADS

