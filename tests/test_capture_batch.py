"""One capture micro-batch (``AuditIngest._append_batch``) end to end:
statement-level TRUNCATE through the ingest, and the steady-state cost
contract — a steady batch compiles no new code and leaves nothing
persisted behind."""

import datetime as dt

from audit_star_spark.streaming.ingest import FEED_SCHEMA, AuditIngest


def _row(event_id, op, before, after):
    return (
        event_id,
        op,
        before,
        after,
        dt.datetime(2024, 1, 1) + dt.timedelta(seconds=event_id),
        "agent_0",
        "svc_0",
        "10.0.0.1",
        5000,
    )


def _ingest(spark, tmp_path):
    return AuditIngest(
        spark,
        source_dir=str(tmp_path / "feed"),
        log_dir=str(tmp_path / "log"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        pk_col="id",
        state_dir=str(tmp_path / "state"),
    )


def _batch(spark, tmp_path, batch_id, rows):
    """A batch as the file source hands it over: one parquet file read
    with the feed schema."""
    path = str(tmp_path / "feed" / f"b{batch_id}")
    spark.createDataFrame(rows, FEED_SCHEMA).coalesce(1).write.parquet(path)
    return spark.read.schema(FEED_SCHEMA).parquet(path)


def _state(ingest):
    return {r["primary_key"]: r["row"]["v"] for r in ingest.latest_state().collect()}


def test_truncate_through_ingest(spark, tmp_path):
    ingest = _ingest(spark, tmp_path)
    batches = [
        [
            _row(1, "I", None, {"id": "1", "v": "a"}),
            _row(2, "I", None, {"id": "2", "v": "b"}),
            _row(3, "U", {"id": "1", "v": "a"}, {"id": "1", "v": "a2"}),
        ],
        [
            _row(5, "T", None, None),
            _row(6, "I", None, {"id": "3", "v": "c"}),
        ],
        # an event older than the truncate arrives in a later batch
        [_row(4, "I", None, {"id": "4", "v": "late"})],
    ]
    states = []
    for bid, rows in enumerate(batches):
        ingest._append_batch(_batch(spark, tmp_path, bid, rows), bid)
        states.append(_state(ingest))

    log = {
        r["audit_id"]: (r["operation"], r["primary_key"])
        for r in ingest.log().collect()
    }
    # gapless across batches; the truncate is logged with a NULL pk
    assert sorted(log) == list(range(1, 7))
    assert [op for op, _ in log.values()].count("T") == 1
    assert all(pk is None for op, pk in log.values() if op == "T")
    assert all(pk is not None for op, pk in log.values() if op != "T")
    assert states[0] == {"1": "a2", "2": "b"}
    # rows at or below the watermark (event 5) are gone
    assert states[1] == {"3": "c"}
    # the late, older insert stays below the watermark
    assert states[2] == {"3": "c"}

    # an empty batch records nothing: no log rows, no id, no state version
    version = ingest.state_store.current_version()
    ingest._append_batch(_batch(spark, tmp_path, 3, []), 3)
    assert ingest.log().count() == 6
    assert ingest.state.base_for_batch(4) == (7, False)
    assert ingest.state_store.current_version() == version


def test_steady_batch_compiles_nothing_and_keeps_nothing_cached(spark, tmp_path):
    """Steady micro-batches run the same plans and generated code: the
    Janino compile count does not move across the third to fifth
    ``_append_batch`` calls, and no RDD persisted during them stays
    persisted (a set comparison, so RDDs other tests leave behind and the
    cleaner later drops do not matter)."""
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    ingest = _ingest(spark, tmp_path)
    seen = []
    for bid in range(5):
        rows = [
            _row(10 * bid + k, "I" if bid == 0 else "U",
                 None if bid == 0 else {"id": str(k), "v": str(bid - 1)},
                 {"id": str(k), "v": str(bid)})
            for k in range(1, 8)
        ]
        ingest._append_batch(_batch(spark, tmp_path, bid, rows), bid)
        seen.append((compiles.getCount(), persistent()))
    counts = [c for c, _ in seen[1:]]
    assert counts == [counts[0]] * 4, seen
    assert all(rdds <= seen[1][1] for _, rdds in seen[2:]), seen
    assert ingest.log().count() == 35
    assert _state(ingest) == {str(k): "4" for k in range(1, 8)}
