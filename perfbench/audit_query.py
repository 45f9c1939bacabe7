"""The query phase of the audit workload: a closed loop of one client
querying the registered audit views (the read path) over the log the
capture phase wrote, after compaction."""

from __future__ import annotations

import os
import random
import statistics

import auditrun
import feedgen
from auditrun import VIEWS
from harness import Tracer, now, tail, wrapped

SCAN_KINDS = ("delta", "snapshot", "compare")


def lookups_for(seconds: int) -> int:
    """Point lookups per run. At 20 s of nominal run time the loop (20
    lookups of about 0.35 s, three as-of queries and three scans of about
    1.1 s each on four cores) takes about 14 s."""
    return max(12, seconds)


class QueryLoop:
    """Point lookups on the snapshot view, as-of queries and one full scan
    of every view kind, each checked against the generator's history."""

    def __init__(self, spark, feed: feedgen.Feed, seed: int, seconds: int):
        self.spark, self.feed = spark, feed
        self.n_lookups = lookups_for(seconds)
        self.seed = seed
        self.attempted = self.failed = 0

    def attach(self, star, spec, tracer: Tracer | None = None) -> None:
        """Compact the captured log, re-register the views over it, then
        warm up with one throwaway query of each shape. With a tracer,
        compaction and view registration are recorded as spans."""
        from audit_star_spark.plans import logstore

        self.star, self.spec = star, spec
        self.log_dir = auditrun.log_dir(star, spec)
        with wrapped(tracer, logstore, "compact_log", "logstore.compact"):
            logstore.compact_log(self.spark, self.log_dir)
        with wrapped(tracer, star, "provision", "provision.register_views"):
            star.provision([spec], views_only=True)
        auditrun.warm_queries(self.spark, self.feed)

    # -- the loop -----------------------------------------------------------------

    def lookup(self, key: int, tracer: Tracer | None = None):
        df = self.spark.sql(auditrun.lookup_sql(key))
        if tracer is None:
            t = now()
            rows = df.collect()
            return rows, now() - t, None
        with tracer.span("lookup", ident=f"lookup-{key}"):
            with tracer.span("lookup.plan") as p:
                df._jdf.queryExecution().executedPlan()
            with tracer.span("lookup.exec") as e:
                rows = df.collect()
        return rows, p.dur + e.dur, (p.dur, e.dur, auditrun.scan_metrics(df))

    def time_travel(self, event_id: int) -> float:
        t = now()
        rows = self.spark.sql(auditrun.time_travel_sql(event_id)).collect()
        dur = now() - t
        self.attempted += 1
        self.failed += not auditrun.check_time_travel(self.feed, event_id, rows)
        return dur

    def scan(self, kind: str, r: int, tracer: Tracer | None = None):
        self.attempted += 1
        if tracer is None:
            t = now()
            auditrun.scan(self.spark, kind)
            return now() - t, None
        # the noop write would plan again; execute this plan instead so its
        # SQL metrics (shuffle bytes) are the ones read below
        df = self.spark.table(VIEWS[kind])
        with tracer.span(f"reconstruct.{kind}", ident=f"scan-{r}"):
            with tracer.span("view_scan.plan") as p:
                plan = df._jdf.queryExecution().executedPlan()
            with tracer.span("view_scan.exec") as e:
                plan.execute().count()
        shuffle = auditrun.scan_metrics(df)["shuffle_bytes"]
        return p.dur + e.dur, (p.dur, shuffle)

    def loop(self, tracer: Tracer | None = None):
        """The lookups, with one as-of query after each third of them and
        one scan of each view kind after each as-of query. Keys and times
        come from a seed-fixed stream, so the traced loop repeats the
        untraced one."""
        feed = self.feed
        rng = random.Random(self.seed + 7)
        keys = feed.draw_keys(rng, self.n_lookups)
        samples = {"lookup_s": [], "time_travel_s": [], "scan_s": [], "lookup_extra": []}
        t0 = now()
        for r, kind in enumerate(SCAN_KINDS):
            third = keys[r * len(keys) // 3 : (r + 1) * len(keys) // 3]
            for key in third:
                rows, dur, extra = self.lookup(key, tracer)
                samples["lookup_s"].append(dur)
                if extra:
                    samples["lookup_extra"].append((extra, len(rows)))
                self.attempted += 1
                self.failed += not auditrun.check_lookup(feed, key, rows)
            eid = rng.randrange(len(feed.events) // 4, len(feed.events) + 1)
            samples["time_travel_s"].append(self.time_travel(eid))
            samples["scan_s"].append((kind, *self.scan(kind, r, tracer)))
        return samples, now() - t0

    def measure(self) -> dict:
        samples, _wall = self.loop()
        lookups = samples["lookup_s"]
        med = statistics.median
        return {
            "lookup_p50_s": med(lookups),
            "_samples": {
                "lookup_s": lookups,
                "time_travel_s": samples["time_travel_s"],
                "view_scan_s": [d for _k, d, _p in samples["scan_s"]],
            },
            "_named": {
                "lookup_p50_ms": (med(lookups) * 1000, "ms"),
                "lookup_p90_ms": (tail(lookups, 90, 1000), "ms"),
                "time_travel_p50_s": (med(samples["time_travel_s"]), "s"),
                "view_scan_p50_s": (med(d for _k, d, _p in samples["scan_s"]), "s"),
            },
        }

    # -- traced run -------------------------------------------------------------

    def attach_layers(self, tracer: Tracer) -> dict:
        """Per-layer metrics of the traced compaction and registration."""
        seg = os.path.join(self.log_dir, "__batch=-1")
        return {
            "logstore.compact_s": tracer.total("logstore.compact"),
            "logstore.files_after_compact": sum(f.endswith(".parquet") for f in os.listdir(seg)),
            "provision.register_views_s": tracer.total("provision.register_views"),
        }

    def measure_traced(self, tracer: Tracer) -> tuple[dict, float]:
        """Per-layer metrics of the traced loop and its wall time."""
        out = self.attach_layers(tracer)
        samples, wall = self.loop(tracer)
        med = statistics.median
        extra = samples["lookup_extra"]
        results = sum(max(1, n) for _e, n in extra)
        scans = samples["scan_s"]
        out.update(
            {
                "lookup.plan_ms": med(e[0] for e, _n in extra) * 1000,
                "lookup.exec_ms": med(e[1] for e, _n in extra) * 1000,
                "lookup.rows_scanned_per_result": sum(e[2]["log_rows"] for e, _n in extra)
                / results,
                "lookup.files_read": statistics.mean(e[2]["log_files"] for e, _n in extra),
                "live.read_ms": med(e[2]["live_ms"] for e, _n in extra),
                "live.rows": med(e[2]["live_rows"] for e, _n in extra),
                "view_scan.plan_s": med(p[0] for _k, _d, p in scans),
                "view_scan.shuffle_bytes": statistics.mean(p[1] for _k, _d, p in scans),
            }
        )
        for kind, dur, _p in scans:
            out[f"reconstruct.{kind}_s"] = dur
        return out, wall
