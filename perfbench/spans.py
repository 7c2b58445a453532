"""Spans recorded around the benchmark's calls into each layer, plus the
Spark event log that the traced run reads its job, stage and task figures
from.

Spans live in memory and are written out once, when the run ends. Each span
has a name, a start and end (``time.time()`` seconds, the clock the event
log's millisecond timestamps use too), the index of its parent span and a
batch id shared by every span of one micro-batch or query pass.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    batch: str | None


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, batch: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        if batch is None and parent is not None:
            batch = self.spans[parent].batch
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, batch))
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def add(self, name: str, start: float, end: float, batch: str | None) -> None:
        """Record a span timed elsewhere (e.g. on the streaming thread)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, None, batch))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    shuffle_read: int
    shuffle_write: int
    spill: int
    gc_s: float


@dataclass
class EventLog:
    """Jobs (id, submit, end) and finished tasks from one event log file."""

    jobs: list[tuple[int, float, float]]
    tasks: list[Task]

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        submit: dict[int, float] = {}
        end: dict[int, float] = {}
        tasks: list[Task] = []
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    submit[ev["Job ID"]] = ev["Submission Time"] / 1000
                elif kind == "SparkListenerJobEnd":
                    end[ev["Job ID"]] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    info, m = ev["Task Info"], ev["Task Metrics"]
                    rd = m.get("Shuffle Read Metrics", {})
                    tasks.append(
                        Task(
                            stage=ev["Stage ID"],
                            launch=info["Launch Time"] / 1000,
                            finish=info["Finish Time"] / 1000,
                            shuffle_read=rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0),
                            shuffle_write=m.get("Shuffle Write Metrics", {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            spill=m.get("Disk Bytes Spilled", 0),
                            gc_s=m.get("JVM GC Time", 0) / 1000,
                        )
                    )
        jobs = [(j, t, end.get(j, t)) for j, t in sorted(submit.items())]
        return cls(jobs, tasks)

    def jobs_in(self, start: float, end: float) -> list[tuple[int, float, float]]:
        # event-log times are whole milliseconds; widen by one on each side
        return [j for j in self.jobs if start - 1e-3 <= j[1] <= end + 1e-3]

    def tasks_in(self, start: float, end: float) -> list[Task]:
        return [t for t in self.tasks if start - 1e-3 <= t.launch and t.finish <= end + 1e-3]

    def window_stats(self, start: float, end: float) -> dict:
        """Shuffle, spill and GC totals of the tasks run inside one window,
        the driver-side tail after its last job, and the task skew of its
        fold reduce stage (the stage that both reads and writes shuffle
        data: it reads the fold's exchange and writes the bucket exchange)."""
        tasks = self.tasks_in(start, end)
        jobs = self.jobs_in(start, end)
        by_stage: dict[int, list[Task]] = {}
        for t in tasks:
            by_stage.setdefault(t.stage, []).append(t)
        reduce_stages = [
            ts
            for ts in by_stage.values()
            if sum(t.shuffle_read for t in ts) and sum(t.shuffle_write for t in ts)
        ]
        skew = 0.0
        if reduce_stages:
            durs = [t.finish - t.launch for t in reduce_stages[0]]
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
        return {
            "jobs": len(jobs),
            "tail_s": end - max((j[2] for j in jobs), default=end),
            "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
            "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
            "spill_bytes": sum(t.spill for t in tasks),
            "gc_s": sum(t.gc_s for t in tasks),
            "task_skew": skew,
        }
