"""Engine driving shared by the capture and audit_query workloads: the
audited table, provisioning a feed, warm-up, typed ground truth and the
physical-plan metric walker."""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import os
from decimal import Decimal

import feedgen
from harness import RunDirs, Tracer

SCHEMA, TABLE = "app", "accounts"
VIEWS = {
    kind: f"{SCHEMA}_audit_{TABLE}_audit_{kind}"
    for kind in ("delta", "snapshot", "compare")
}


def table_spec():
    from audit_star_spark.catalog import TableSpec, pg_type_to_spark

    cols = [(c, pg_type_to_spark(t)) for c, t in feedgen.COLUMNS]
    return TableSpec(SCHEMA, TABLE, cols, feedgen.PK)


@contextlib.contextmanager
def files_per_trigger(n: int | None):
    """Make ``AuditStar.provision`` start its capture stream with
    ``maxFilesPerTrigger=n`` (provision exposes no such option), so a
    landed backlog drains one file per micro-batch."""
    import audit_star_spark.provision as prov

    orig = prov.AuditIngest
    if n is not None:
        prov.AuditIngest = functools.partial(orig, max_files_per_trigger=n)
    try:
        yield
    finally:
        prov.AuditIngest = orig


def provision(spark, dirs: RunDirs, tag: str, feed_dir: str, files_per_batch=None):
    """Provision the table over ``feed_dir`` into fresh log/checkpoint
    roots; the capture stream drains the whole feed before this returns."""
    from audit_star_spark.catalog import EngineConfig
    from audit_star_spark.provision import AuditStar

    cfg = EngineConfig(
        log_root=dirs.fresh(tag, "logs"), checkpoint_root=dirs.fresh(tag, "ckpt")
    )
    star = AuditStar(spark, cfg)
    spec = table_spec()
    with files_per_trigger(files_per_batch):
        report = star.provision([spec], feeds={spec.fqn: feed_dir})
    if report.errors or report.audited != [spec.fqn]:
        raise RuntimeError(f"provision failed: {report}")
    return star, spec


def log_dir(star, spec) -> str:
    return os.path.join(star.config.log_root, spec.schema, spec.name)


def log_parquet_bytes(path: str) -> int:
    """Bytes of the log table's data files (``__batch=*`` directories),
    without the state store, manifest or checkpoint."""
    total = 0
    for entry in os.listdir(path):
        if not entry.startswith("__batch="):
            continue
        for root, _dirs, files in os.walk(os.path.join(path, entry)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
    return total


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def lookup_sql(key: int) -> str:
    return f"SELECT * FROM {VIEWS['snapshot']} WHERE primary_key = '{key}'"


def scan(spark, kind: str) -> None:
    """Materialize a whole view into the noop sink."""
    spark.table(VIEWS[kind]).write.format("noop").mode("overwrite").save()


def warm_queries(spark, feed: feedgen.Feed) -> None:
    """One throwaway lookup and as-of query over the registered views, so
    the timed ones start with loaded classes and compiled code. The full
    scans are not warmed: each kind runs once per loop."""
    spark.sql(lookup_sql(feed.key_order[0])).collect()
    spark.sql(time_travel_sql(len(feed.events) // 2)).collect()


# -- typed ground truth --------------------------------------------------------

_PG = dict(feedgen.COLUMNS)


def typed(col: str, s: str | None):
    """The Python value Spark returns for string ``s`` cast to the column's
    type."""
    if s is None:
        return None
    t = _PG[col]
    if t in ("bigint", "int"):
        return int(s)
    if t == "double precision":
        return float(s)
    if t.startswith("numeric"):
        return Decimal(s)
    if t == "boolean":
        return s == "true"
    if t == "date":
        return dt.date.fromisoformat(s)
    if t == "timestamp":
        return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
    return s


def row_matches(row, expected: dict) -> bool:
    """A snapshot-view row against the generator's string image."""
    for c, _t in feedgen.COLUMNS:
        if row[c] != typed(c, expected[c]):
            return False
    return row["updated_by"] is None


def check_lookup(feed: feedgen.Feed, key: int, rows) -> bool:
    """All of the key's events come back, I/U rows carry the after-images."""
    idx = feed.history.get(key, [])
    if sorted(r["audit_id"] for r in rows) != [feed.events[i].event_id for i in idx]:
        return False
    for r in rows:
        i = r["audit_id"] - 1
        ev = feed.events[i]
        if r["audited_operation"] != ev.op:
            return False
        if ev.op != "D" and not row_matches(r, feed.expected_snapshot(i)):
            return False
    return True


def time_travel_sql(event_id: int) -> str:
    """Whole-table state as of an event's commit time, from the snapshot
    view: each key's latest version at or before T, deleted keys dropped."""
    ts = (feedgen.EPOCH + dt.timedelta(seconds=event_id)).strftime("%Y-%m-%d %H:%M:%S")
    return (
        "SELECT * FROM (SELECT s.*, row_number() OVER (PARTITION BY primary_key "
        "ORDER BY audit_id DESC) AS __rn "
        f"FROM {VIEWS['snapshot']} s WHERE audited_changed_at <= TIMESTAMP'{ts}') "
        "WHERE __rn = 1 AND audited_operation <> 'D'"
    )


def check_time_travel(feed: feedgen.Feed, event_id: int, rows) -> bool:
    want = feed.state_at(event_id)
    if len(rows) != len(want):
        return False
    for r in rows:
        exp = want.get(int(r["primary_key"]))
        if exp is None or not row_matches(r, exp):
            return False
    return True


def builder_rates(spark, feed_dir: str, tracer: Tracer) -> dict:
    """Standalone ``build_audit_events`` and ``gapless_ids`` over the whole
    feed into the noop sink, in rows per second."""
    from audit_star_spark.operators.event_builder import build_audit_events
    from audit_star_spark.operators.ids import gapless_ids
    from audit_star_spark.streaming.ingest import FEED_SCHEMA

    feed = spark.read.schema(FEED_SCHEMA).parquet(feed_dir).persist()
    n = feed.count()
    out = {}
    for name, make in (
        ("event_builder", lambda: build_audit_events(feed, pk_col=feedgen.PK, order_by=["event_id"])),
        ("ids", lambda: gapless_ids(feed, order_by=["event_id"])),
    ):
        with tracer.span(f"{name}.standalone") as s:
            make().write.format("noop").mode("overwrite").save()
        out[f"{name}.rows_per_s"] = n / s.dur
    feed.unpersist()
    return out


# -- physical-plan metrics -------------------------------------------------------


def plan_nodes(plan):
    """Every node of an executed physical plan, through adaptive and
    query-stage wrappers."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "ReusedExchangeExec":
            stack.append(node.child())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def metric(node, name: str) -> int:
    opt = node.metrics().get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def scan_metrics(df) -> dict:
    """Rows, files and scan time of the log scan and the state-snapshot
    (live) scan of an executed query, plus shuffle bytes."""
    plan = df._jdf.queryExecution().executedPlan()
    out = {"log_rows": 0, "log_files": 0, "live_rows": 0, "live_ms": 0, "shuffle_bytes": 0}
    for node in plan_nodes(plan):
        cls = node.getClass().getSimpleName()
        if cls == "FileSourceScanExec":
            roots = node.relation().location().rootPaths()
            state = any("/_state/" in roots.apply(i).toString() for i in range(roots.size()))
            side = "live" if state else "log"
            out[f"{side}_rows"] += metric(node, "numOutputRows")
            if side == "log":
                out["log_files"] += metric(node, "numFiles")
            else:
                out["live_ms"] += metric(node, "scanTime") + metric(node, "metadataTime")
        elif cls == "ShuffleExchangeExec":
            out["shuffle_bytes"] += metric(node, "dataSize")
    return out
