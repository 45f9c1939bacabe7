"""Benchmark entry point.

    python3 perfbench/run.py --workload audit --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts a local Spark session sized to this machine, warms it up,
sets the workload up, measures it, checks every output against the
generator's ground truth and prints one JSON object as the last line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Workloads are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import harness  # noqa: E402


END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "bytes_per_item": "B",
    "setup_s": "s",
}
# per-layer metric -> unit; a layer a workload does not exercise did no
# work in that run and reads 0
PER_LAYER = {
    "ingest.batch_s": "s",
    "ingest.batch_self_s": "s",
    "append_guard.verify_s": "s",
    "append_guard.update_s": "s",
    "append_guard.files_walked": "count",
    "state_store.apply_s": "s",
    "state_store.rows": "count",
    "state_store.bytes_written": "B",
    "sequence.commit_s": "s",
    "event_builder.rows_per_s": "1/s",
    "ids.rows_per_s": "1/s",
    "log.bytes_written": "B",
    "log.files_written": "count",
    "logstore.compact_s": "s",
    "logstore.files_after_compact": "count",
    "provision.register_views_s": "s",
    "lookup.plan_ms": "ms",
    "lookup.exec_ms": "ms",
    "lookup.rows_scanned_per_result": "count",
    "lookup.files_read": "count",
    "live.read_ms": "ms",
    "live.rows": "count",
    "reconstruct.delta_s": "s",
    "reconstruct.snapshot_s": "s",
    "reconstruct.compare_s": "s",
    "view_scan.plan_s": "s",
    "view_scan.shuffle_bytes": "B",
    "quality.flags_s": "s",
    "quality.keep_share": "ratio",
    "dedup.exact_s": "s",
    "dedup.lsh_pairs_s": "s",
    "dedup.lsh_pairs": "count",
    "dedup.near_dup_recall": "ratio",
    "dedup.clusters_s": "s",
    "text.chunk_s": "s",
    "text.packing_s": "s",
    "corpus_io.export_s": "s",
    "jvm.gc_s": "s",
    "jvm.jit_compile_s": "s",
    "tracing.overhead_share": "ratio",
}


def workload_class(name: str):
    from audit import Audit
    from corpus_clean import CorpusClean

    return {c.name: c for c in (Audit, CorpusClean)}[name]


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)


def import_engine() -> None:
    """Import the engine from this checkout; raise ImportError when the
    checkout has none (a namespace package found elsewhere does not count)."""
    import audit_star_spark

    where = os.path.dirname(os.path.abspath(audit_star_spark.__file__ or ""))
    if where != os.path.join(REPO, "audit_star_spark"):
        raise ImportError(f"audit_star_spark resolved to {where}")


def run(args) -> dict:
    with harness.run_dirs(os.path.join(HERE, ".runs"), f"{args.workload}-{args.seed}") as dirs:
        os.environ.update(harness.session_env(dirs))
        time.tzset()
        import_engine()
        cls = workload_class(args.workload)
        t = harness.now()
        spark = harness.start_session()
        session_s = harness.now() - t
        try:
            jvm = harness.Jvm(spark)
            wl = cls(spark, dirs, args.seed, args.seconds)  # input generation
            t = harness.now()
            wl.setup()
            engine_setup_s = harness.now() - t
            setup_s = session_s + engine_setup_s
            t = harness.now()
            if not args.trace:
                measured = wl.measure()
                samples, named = measured.pop("_samples"), measured.pop("_named")
                metrics = measured | {"setup_s": setup_s}
                units = END_TO_END
            else:
                tracer = harness.Tracer()
                layer = wl.measure_traced(tracer, jvm)
                tracer.dump(harness.RunDirs(HERE).path(".traces", f"{args.workload}-{args.seed}.jsonl"))
                samples, named = {}, {}
                metrics = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
                units = PER_LAYER
            measure_s = harness.now() - t
            settings = harness.effective_settings(spark)
            named["setup_s"] = (setup_s, "s")
            named["peak_rss_mb"] = (jvm.peak_rss_mb(), "MB")
            named["ops_failed_share"] = (wl.failed / wl.attempted, "ratio")
        finally:
            stop_session(spark)
    print("# settings " + json.dumps(settings, sort_keys=True))
    # the workload's metrics under their own names (null: too few samples
    # for the tail); the result line below carries the shared names
    print("# metrics " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in named.items()}))
    print(
        "# samples "
        + json.dumps(
            {k: harness.timing_summary(v) for k, v in samples.items()}
            | {"session_s": session_s, "engine_setup_s": engine_setup_s, "measure_s": measure_s}
        )
    )
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["audit", "corpus_clean"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        result = run(args)
    except ImportError as e:
        print(f"perfbench: engine not importable from {REPO}: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
