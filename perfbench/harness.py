"""State one benchmark run carries, and the small timing helpers the
workloads share."""

from __future__ import annotations

import logging
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.spans import Tracer

log = logging.getLogger("perfbench")


@dataclass
class Run:
    """One workload run: its inputs and everything it measured.

    ``op_s`` holds one wall time per timed operation (a micro-batch or a
    registry pass), ``read_s`` one per read, and
    ``setup_s`` one per set-up repetition. ``named`` carries the
    workload's own end-to-end figures under the names the README uses,
    ``layers`` the per-layer figures of a traced run.
    """

    spark: object
    work: Path
    seed: int
    seconds: float
    cpus: int
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    setup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    read_s: list[float] = field(default_factory=list)
    warmup_s: list[float] = field(default_factory=list)
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    sizes: dict[str, int | str] = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log.error("failed: %s", what)


def noop(df) -> None:
    """Run a DataFrame's whole plan and drop the rows."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def warm_up(step, min_n: int, max_n: int, tol: float = 0.1) -> list[float]:
    """Call ``step`` (which returns its own duration) until the last three
    durations lie within ``tol`` of their minimum, at least ``min_n`` and
    at most ``max_n`` times. Three, not two: a time that still falls by a
    few percent a step passes a test of two successive steps."""
    times: list[float] = []
    while len(times) < max_n:
        times.append(step())
        last = times[-3:]
        if len(times) >= max(min_n, 3) and max(last) - min(last) <= tol * min(last):
            break
    return times


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0
