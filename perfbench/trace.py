"""Benchmark-side tracing: spans around engine calls, a driver-gap poller
and an event-log parser for Spark runtime counters.

Everything here observes the engine from outside. Spans are opened by the
benchmark around its calls into the engine's public functions (or around
a public function an engine module calls, by wrapping the module
attribute for the length of the traced run). Nothing in the engine is
edited.
"""

from __future__ import annotations

import functools
import glob
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    iteration: int


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.iteration = 0
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), float("nan"), parent,
                 self.workload, self.iteration)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def wrapped(self, module, attr: str, name: str):
        """Record a span around every call of ``module.attr`` made while
        the block runs (the engine resolves the name at call time)."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def self_time(self, i: int) -> float:
        """Span duration minus the time its direct children cover. Spans
        are opened by one thread, so children never overlap each other."""
        s = self.spans[i]
        kids = sum(c.end - c.start for c in self.spans if c.parent == i)
        return (s.end - s.start) - kids

    def totals(self, iteration: int) -> dict[str, tuple[float, float]]:
        """name -> (summed duration, summed self time) for one iteration."""
        out: dict[str, tuple[float, float]] = {}
        for i, s in enumerate(self.spans):
            if s.iteration != iteration:
                continue
            d, st = out.get(s.name, (0.0, 0.0))
            out[s.name] = (d + s.end - s.start, st + self.self_time(i))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({**asdict(s), "id": i,
                                    "self_s": self.self_time(i)}) + "\n")


class DriverGapPoller:
    """Samples whether any Spark job is active, every ``interval`` seconds,
    from a background thread. ``idle(a, b)`` is the time in [a, b) during
    which no job was active: the driver-side share of a call."""

    def __init__(self, spark_context, interval: float = 0.005):
        self._tracker = spark_context.statusTracker()
        self._interval = interval
        self._samples: list[tuple[float, bool]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            active = len(self._tracker.getActiveJobsIds()) > 0
            self._samples.append((time.perf_counter(), active))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("driver-gap poller did not stop")

    def idle(self, a: float, b: float) -> float:
        total = 0.0
        s = self._samples
        for (t0, active), (t1, _) in zip(s, s[1:]):
            lo, hi = max(t0, a), min(t1, b)
            if hi > lo and not active:
                total += hi - lo
        return total


_SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.gc_s",
    "spark.executor_run_s",
)


def parse_event_log(log_dir: str, group_prefix: str) -> dict[str, float]:
    """Sum task metrics over the jobs whose job group starts with
    ``group_prefix``. Reads every event-log file in ``log_dir``; call it
    after the SparkContext has stopped so the log is complete."""
    out = dict.fromkeys(_SPARK_COUNTERS, 0.0)
    job_stages: set[int] = set()
    stages_run: set[int] = set()
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if group.startswith(group_prefix):
                        out["spark.jobs"] += 1
                        job_stages.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in job_stages:
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    stages_run.add(ev["Stage ID"])
                    out["spark.tasks"] += 1
                    out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    out["spark.shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                    out["spark.spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                    out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    out["spark.stages"] = float(len(stages_run))
    return out
