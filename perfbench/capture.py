"""The capture phase of the audit workload: drain a landed change-feed
backlog one file per micro-batch through ``AuditStar.provision`` (the
write path)."""

from __future__ import annotations

import datetime as dt
import os
import statistics

import auditrun
import feedgen
from harness import RunDirs, Tracer, tail, wrapped

EVENTS_PER_FILE = 1000
# the small separate feed the warm-up captures in one micro-batch:
# the first batch of a session is several times slower than the rest
WARM = feedgen.FeedParams(n_events=200, n_keys=100, n_files=1)


def params(seconds: int) -> feedgen.FeedParams:
    """Three micro-batches (about 2.3 s each on four cores) per ten
    seconds of nominal run time. The batch time varies with the machine's
    load over tens of seconds; a longer drain averages over more of it."""
    n_files = max(4, seconds * 3 // 10)
    return feedgen.FeedParams(
        n_events=EVENTS_PER_FILE * n_files, n_keys=2000, n_files=n_files, zipf_s=1.0
    )


def _progress_batches(star, spec) -> list[dict]:
    q = star.ingests[spec.fqn].query
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def _ts(p: dict) -> float:
    t = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class Capture:
    def __init__(self, spark, dirs: RunDirs, seed: int, seconds: int):
        self.spark, self.dirs = spark, dirs
        self.feed = feedgen.generate(params(seconds), seed)
        self.feed_dir = dirs.fresh("feed")
        feedgen.write_feed(self.feed, self.feed_dir)
        self.warm_dir = dirs.fresh("warm-feed")
        feedgen.write_feed(feedgen.generate(WARM, seed + 1000), self.warm_dir)
        self.attempted = self.failed = 0

    def setup(self) -> None:
        """Warm-up: a throwaway capture of a small separate feed, so the
        JVM, codegen and the Python worker pool are warm before timing."""
        star, _spec = auditrun.provision(
            self.spark, self.dirs, "warm", self.warm_dir, files_per_batch=1
        )
        for ingest in star.ingests.values():
            ingest.stop()

    def drain(self, tag: str) -> float:
        """Capture the whole feed into a new table; returns the drain's
        wall time (first batch start to last commit)."""
        self.star, self.spec = auditrun.provision(
            self.spark, self.dirs, tag, self.feed_dir, files_per_batch=1
        )
        batches = _progress_batches(self.star, self.spec)
        self.durs = [p["durationMs"]["triggerExecution"] / 1000 for p in batches]
        self._check(self.star, self.spec, batches)
        return _ts(batches[-1]) + self.durs[-1] - _ts(batches[0])

    def measure(self) -> dict:
        self.wall = self.drain("run")
        durs, events = self.durs, len(self.feed.events)
        rate = events / self.wall
        p50 = statistics.median(durs)
        log_bytes = auditrun.log_parquet_bytes(auditrun.log_dir(self.star, self.spec)) / events
        return {
            "events_per_s": rate,
            "log_bytes_per_event": log_bytes,
            "_samples": {"batch_s": durs},
            "_named": {
                "capture_events_per_s": (rate, "events/s"),
                "capture_batch_p50_s": (p50, "s"),
                "capture_batch_p90_s": (tail(durs, 90), "s"),
                "log_bytes_per_event": (log_bytes, "B/event"),
            },
        }

    def _check(self, star, spec, batches) -> None:
        """Ground truth: one batch per file, ids 1..N in event order, log
        rows equal feed events, streamed state equals the final state."""
        from pyspark.sql import functions as F

        feed = self.feed
        n = len(feed.events)
        n_files = len(feed.bounds) - 1
        self.attempted += len(batches) + 3
        self.failed += abs(n_files - len(batches))
        log = star.log_for(spec)
        agg = log.agg(
            F.count("*"), F.min("audit_id"), F.max("audit_id"), F.countDistinct("audit_id")
        ).collect()[0]
        self.failed += tuple(agg) != (n, 1, n, n)
        got = sorted(
            (r[0], r[1], r[2])
            for r in log.select("audit_id", "operation", "primary_key").collect()
        )
        want = [(e.event_id, e.op, str(e.key)) for e in feed.events]
        self.failed += got != want
        state = star.ingests[spec.fqn].latest_state()
        got_state = {
            int(r["primary_key"]): dict(r["row"])
            for r in state.select("primary_key", "row").collect()
        }
        self.failed += got_state != feed.final_state

    # -- traced run -------------------------------------------------------------

    def measure_traced(self, tracer: Tracer) -> dict:
        """Per-layer metrics of a traced drain."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        import audit_star_spark.operators.event_builder as eb
        from audit_star_spark.plans.append_guard import AppendOnlyGuard
        from audit_star_spark.streaming.ingest import (
            AuditIngest,
            LatestStateStore,
            SequenceState,
        )

        stats = {"files_walked": [], "state_bytes": [], "log_bytes": [], "log_files": []}

        def batch_id(_self, _batch, bid):
            return f"batch-{bid}"

        orig_count = DataFrame.count
        orig_parquet = DataFrameWriter.parquet
        orig_apply = LatestStateStore.apply_batch
        orig_verify = AppendOnlyGuard.verify

        def count(df):
            if tracer.inside("ingest.batch") and not tracer.inside("ids"):
                with tracer.span("ingest.count"):
                    return orig_count(df)
            return orig_count(df)

        def parquet(writer, path, *a, **kw):
            if tracer.inside("ingest.batch") and not tracer.inside("state_store.apply"):
                with tracer.span("log.write"):
                    out = orig_parquet(writer, path, *a, **kw)
                bdir = os.path.join(path, f"__batch={tracer.current().ident[6:]}")
                files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
                stats["log_files"].append(len(files))
                stats["log_bytes"].append(
                    sum(os.path.getsize(os.path.join(bdir, f)) for f in files)
                )
                return out
            return orig_parquet(writer, path, *a, **kw)

        def apply_batch(store, spark, batch, bid, pk_col):
            out = orig_apply(store, spark, batch, bid, pk_col)
            stats["state_bytes"].append(auditrun.dir_bytes(store._vpath(bid)))
            return out

        def verify(guard, *a, **kw):
            stats["files_walked"].append(
                sum(
                    f.endswith(".parquet")
                    for r, _d, fs in os.walk(guard.log_dir)
                    if "__batch=" in r
                    for f in fs
                )
            )
            return orig_verify(guard, *a, **kw)

        DataFrame.count, DataFrameWriter.parquet = count, parquet
        LatestStateStore.apply_batch, AppendOnlyGuard.verify = apply_batch, verify
        try:
            with (
                wrapped(tracer, AuditIngest, "_append_batch", "ingest.batch", batch_id),
                wrapped(tracer, AppendOnlyGuard, "verify", "append_guard.verify"),
                wrapped(tracer, AppendOnlyGuard, "update", "append_guard.update"),
                wrapped(tracer, LatestStateStore, "apply_batch", "state_store.apply"),
                wrapped(tracer, SequenceState, "commit_batch", "sequence.commit"),
                wrapped(tracer, eb, "build_audit_events", "event_builder"),
                wrapped(tracer, eb, "gapless_ids", "ids"),
            ):
                self.drain("traced")
        finally:
            DataFrame.count, DataFrameWriter.parquet = orig_count, orig_parquet
            LatestStateStore.apply_batch, AppendOnlyGuard.verify = orig_apply, orig_verify
        state = self.star.ingests[self.spec.fqn].latest_state()

        batches = tracer.named("ingest.batch")
        med = statistics.median
        out = {
            "ingest.batch_s": med(s.dur for s in batches),
            "ingest.batch_self_s": med(tracer.self_time(s) for s in batches),
            "append_guard.verify_s": med(s.dur for s in tracer.named("append_guard.verify")),
            "append_guard.update_s": med(s.dur for s in tracer.named("append_guard.update")),
            "append_guard.files_walked": statistics.mean(stats["files_walked"]),
            "state_store.apply_s": med(s.dur for s in tracer.named("state_store.apply")),
            "state_store.rows": state.count(),
            "state_store.bytes_written": statistics.mean(stats["state_bytes"]),
            "sequence.commit_s": med(s.dur for s in tracer.named("sequence.commit")),
            "log.bytes_written": statistics.mean(stats["log_bytes"]),
            "log.files_written": statistics.mean(stats["log_files"]),
        }
        return out

