"""Spans recorded from outside the program, around calls into one layer.

A span measures wall time, CPU of the whole process tree, the part of
that CPU spent in Python workers, JVM garbage-collection time and the
rows the layer produced. Spans are kept in memory and summed per layer
when the traced run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from procstat import TreeSample


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector, in seconds,
    read through the GarbageCollectorMXBeans."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


@dataclass
class Span:
    layer: str
    name: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    worker_cpu_s: float = 0.0
    gc_s: float = 0.0
    rows: int = 0
    frame: object = None  # what the span materialized, counted afterwards


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, name: str):
        """Time the body as one span of `layer`. The body sets
        `span.frame` to the DataFrame it materialized (counted by
        `count_rows` after the pass), or `span.rows` directly."""
        s = Span(layer, name)
        gc0, t0 = jvm_gc_s(self.spark), TreeSample()
        w0 = time.perf_counter()
        yield s
        s.wall_s = time.perf_counter() - w0
        t1 = TreeSample()
        s.gc_s = jvm_gc_s(self.spark) - gc0
        s.cpu_s = t1.total_cpu_s - t0.total_cpu_s
        s.worker_cpu_s = t1.worker_cpu_s - t0.worker_cpu_s
        self.spans.append(s)

    def count_rows(self) -> None:
        for s in self.spans:
            if s.frame is not None:
                s.rows, s.frame = s.frame.count(), None

    def by_layer(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            acc = out.setdefault(
                s.layer,
                {"self_s": 0.0, "cpu_s": 0.0, "worker_cpu_s": 0.0, "gc_s": 0.0, "rows": 0},
            )
            acc["self_s"] += s.wall_s
            acc["cpu_s"] += s.cpu_s
            acc["worker_cpu_s"] += s.worker_cpu_s
            acc["gc_s"] += s.gc_s
            acc["rows"] += s.rows
        return out
