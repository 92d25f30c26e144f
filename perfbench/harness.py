"""Timing, counting and checking shared by every workload.

One ``Bench`` lives for one run. Every call into a layer of the program
goes through ``Bench.call``, which times it from outside, counts it as
attempted, and, in traced passes, records a span and the Spark counters
of the jobs it started. Output checks go through ``Bench.check``.
"""

from __future__ import annotations

import os
import time
import traceback
from collections import defaultdict

from spans import Tracer
from sparkcounters import COUNTERS, SparkCounters


class Bench:
    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.trace = trace
        self.tracer = Tracer(enabled=False)
        self.counters = SparkCounters(spark)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # layer metric name -> samples from traced passes and probes
        self.layer: dict[str, list[float]] = defaultdict(list)
        # seconds the tracing itself adds between calls (counter reads)
        self.trace_cost = 0.0

    def call(self, name: str, fn, *args, **kwargs):
        """Time ``fn(*args, **kwargs)`` as the layer call ``name``. A call
        that raises counts as failed and re-raises."""
        traced = self.tracer.enabled
        t0 = time.perf_counter()
        lo = self.counters.next_job_id() if traced else 0
        self.trace_cost += time.perf_counter() - t0
        self.attempted += 1
        try:
            with self.tracer.span(name) as sp:
                result = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            raise
        if traced:
            t0 = time.perf_counter()
            self.layer[f"{name}.s"].append(sp["dt"])
            counts = self.counters.since(lo)
            sp.update(counts)
            for c in COUNTERS:
                self.layer[f"{name}.{c}"].append(counts[c])
            self.trace_cost += time.perf_counter() - t0
        self.last_dt = sp["dt"]
        return result

    def force(self, name: str, build) -> float:
        """Time a layer that returns a lazy DataFrame (or several): build
        it and run it into the ``noop`` sink inside one call."""

        def run():
            out = build()
            for df in out if isinstance(out, (list, tuple)) else (out,):
                df.write.format("noop").mode("overwrite").save()

        self.call(name, run)
        return self.last_dt

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name} failed: {detail}")

    def note(self, name: str, value: float) -> None:
        """Record a per-layer count (only from traced passes/probes)."""
        if self.tracer.enabled:
            self.layer[name].append(float(value))


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) on disk under ``path``; (0, 0) if absent."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
