"""audit: the audit table's write path and read path in one run. A landed
change-feed backlog is drained one file per micro-batch (capture.py),
then the log it wrote is compacted and queried through the registered
views in a closed loop (audit_query.py)."""

from __future__ import annotations

import auditrun
from audit_query import QueryLoop
from auditrun import VIEWS
from capture import Capture
from harness import RunDirs, Tracer


class Audit:
    name = "audit"

    def __init__(self, spark, dirs: RunDirs, seed: int, seconds: int):
        self.spark = spark
        self.capture = Capture(spark, dirs, seed, seconds)
        self.queries = QueryLoop(spark, self.capture.feed, seed, seconds)

    @property
    def attempted(self) -> int:
        return self.capture.attempted + self.queries.attempted

    @property
    def failed(self) -> int:
        return self.capture.failed + self.queries.failed

    def setup(self) -> None:
        self.capture.setup()

    def measure(self) -> dict:
        cap = self.capture.measure()
        self.queries.attach(self.capture.star, self.capture.spec)
        q = self.queries.measure()
        return {
            "throughput_per_s": cap["events_per_s"],
            "latency_p50_ms": q["lookup_p50_s"] * 1000,
            "bytes_per_item": cap["log_bytes_per_event"],
            "_samples": cap["_samples"] | q["_samples"],
            "_named": cap["_named"] | q["_named"],
        }

    def measure_traced(self, tracer: Tracer, jvm) -> dict:
        """A traced drain, then the query loop untraced and traced. The
        loop repeats exactly on one table, so its two wall times give the
        tracing overhead; the drain cannot repeat on the same table. The
        scans are warmed first, else the untraced loop alone pays their
        first runs."""
        gc0, jit0 = jvm.gc_s(), jvm.jit_s()
        out = self.capture.measure_traced(tracer)
        self.queries.attach(self.capture.star, self.capture.spec, tracer)
        for kind in VIEWS:
            auditrun.scan(self.spark, kind)
        _samples, untraced = self.queries.loop()
        layers, traced = self.queries.measure_traced(tracer)
        out |= layers
        out["jvm.gc_s"] = jvm.gc_s() - gc0
        out["jvm.jit_compile_s"] = jvm.jit_s() - jit0
        out["tracing.overhead_share"] = traced / untraced - 1
        out |= auditrun.builder_rates(self.spark, self.capture.feed_dir, tracer)
        return out
