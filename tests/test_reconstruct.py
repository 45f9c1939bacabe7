"""Golden view-semantics tests, transliterated from the reference suite
(/root/reference/audit/audit_test.go:305–528): delta / snapshot / compare
per operation. In the reference goldens, sql.Null* zero-values denote SQL
NULL (0 / "")."""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from audit_star_spark.catalog import TableSpec
from audit_star_spark.operators.event_builder import build_audit_events
from audit_star_spark.operators.reconstruct import (
    compare_view,
    delta_view,
    snapshot_view,
)

TABLE1 = TableSpec(
    schema="teststar",
    name="table1",
    columns=[
        ("id", T.IntegerType()),
        ("column2", T.StringType()),
        ("column3", T.DecimalType(8, 2)),
        ("updated_by", T.StringType()),
    ],
    primary_key="id",
)

FEED_SCHEMA = (
    "seq long, op string, before map<string,string>, after map<string,string>, "
    "changed_at timestamp"
)
TS = dt.datetime(2024, 1, 1)


def _img(id=None, column2=None, column3=None, updated_by=None):
    return {"id": id, "column2": column2, "column3": column3, "updated_by": updated_by}


def _log(spark, ops):
    feed = spark.createDataFrame(
        [Row(seq=i + 1, op=op, before=b, after=a, changed_at=TS) for i, (op, b, a) in enumerate(ops)],
        FEED_SCHEMA,
    )
    return build_audit_events(feed, pk_col="id", order_by=["seq"], id_mode="window")


def _live(spark, rows):
    return spark.createDataFrame(
        [Row(id=r[0], column2=r[1], column3=r[2], updated_by=r[3]) for r in rows],
        TABLE1.spark_schema(),
    )


def _row(view_df, **preds):
    rows = view_df.collect()
    out = [r.asDict() for r in rows if all(r[k] == v for k, v in preds.items())]
    assert len(out) == 1, f"expected 1 row matching {preds}, got {out}"
    return out[0]


INSERT_ONLY = [("I", None, _img("1", "some value"))]
INSERT_UPDATE = INSERT_ONLY + [
    ("U", _img("1", "some value"), _img("1", "some other value"))
]
INSERT_DELETE = INSERT_ONLY + [("D", _img("1", "some value"), None)]
INSERT_UPDATE_DELETE = INSERT_UPDATE + [
    ("D", _img("1", "some other value"), None)
]


def test_delta_insert(spark):
    # audit_test.go:305–328: I row reconstructs inserted values via live row
    log = _log(spark, INSERT_ONLY)
    live = _live(spark, [(1, "some value", None, None)])
    r = _row(delta_view(log, live, TABLE1), audited_operation="I")
    assert r["old_id"] is None and r["new_id"] == 1
    assert r["old_column2"] is None and r["new_column2"] == "some value"


def test_delta_insert_reconstructs_from_later_diff_not_live(spark):
    # The inserted value must come from the NEXT update's before-image even
    # though the live row has moved on (B2 semantics, audit.go:1073–1080).
    log = _log(spark, INSERT_UPDATE)
    live = _live(spark, [(1, "some other value", None, None)])
    r = _row(delta_view(log, live, TABLE1), audited_operation="I")
    assert r["new_column2"] == "some value"  # from U's before_change, not live


def test_delta_update(spark):
    # audit_test.go:329–355: only changed fields populated
    log = _log(spark, INSERT_UPDATE)
    live = _live(spark, [(1, "some other value", None, None)])
    r = _row(delta_view(log, live, TABLE1), audited_operation="U")
    assert r["old_id"] is None and r["new_id"] is None
    assert r["old_column2"] == "some value"
    assert r["new_column2"] == "some other value"


def test_delta_delete(spark):
    # audit_test.go:357–382
    log = _log(spark, INSERT_DELETE)
    live = _live(spark, [])
    r = _row(delta_view(log, live, TABLE1), audited_operation="D")
    assert r["old_id"] == 1 and r["new_id"] is None
    assert r["old_column2"] == "some value" and r["new_column2"] is None


def test_snapshot_insert(spark):
    # audit_test.go:384–405
    log = _log(spark, [("I", None, _img("2", "some value"))])
    live = _live(spark, [(2, "some value", None, None)])
    r = _row(snapshot_view(log, live, TABLE1), audited_operation="I")
    assert r["id"] == 2 and r["column2"] == "some value"


def test_snapshot_update(spark):
    # audit_test.go:407–430
    log = _log(
        spark,
        [
            ("I", None, _img("2", "some value")),
            ("U", _img("2", "some value"), _img("2", "some other value")),
        ],
    )
    live = _live(spark, [(2, "some other value", None, None)])
    r = _row(snapshot_view(log, live, TABLE1), audited_operation="U")
    assert r["id"] == 2 and r["column2"] == "some other value"


def test_snapshot_delete_row_state_gone(spark):
    # audit_test.go:432–455: after D the snapshot state is NULL
    log = _log(
        spark,
        [
            ("I", None, _img("2", "some value")),
            ("U", _img("2", "some value"), _img("2", "some other value")),
            ("D", _img("2", "some other value"), None),
        ],
    )
    live = _live(spark, [])
    r = _row(snapshot_view(log, live, TABLE1), audited_operation="D")
    assert r["id"] is None and r["column2"] is None


def test_compare_insert(spark):
    # audit_test.go:457–480
    log = _log(spark, [("I", None, _img("3", "some value"))])
    live = _live(spark, [(3, "some value", None, None)])
    r = _row(compare_view(log, live, TABLE1), audited_operation="I")
    assert r["old_id"] is None and r["new_id"] == 3
    assert r["old_column2"] is None and r["new_column2"] == "some value"


def test_compare_update(spark):
    # audit_test.go:482–506: unchanged cols filled from live on both sides
    log = _log(
        spark,
        [
            ("I", None, _img("3", "some value")),
            ("U", _img("3", "some value"), _img("3", "some other value")),
        ],
    )
    live = _live(spark, [(3, "some other value", None, None)])
    r = _row(compare_view(log, live, TABLE1), audited_operation="U")
    assert r["old_id"] == 3 and r["new_id"] == 3
    assert r["old_column2"] == "some value"
    assert r["new_column2"] == "some other value"


def test_compare_delete(spark):
    # audit_test.go:508–528
    log = _log(spark, [("I", None, _img("3", "some value")), ("D", _img("3", "some value"), None)])
    live = _live(spark, [])
    r = _row(compare_view(log, live, TABLE1), audited_operation="D")
    assert r["old_id"] == 3 and r["new_id"] is None
    assert r["old_column2"] == "some value" and r["new_column2"] is None


def test_typed_reconstruction_decimal(spark):
    # column3 numeric(8,2): text round trip must restore typed values
    log = _log(
        spark,
        [
            ("I", None, _img("5", "v", "9.50")),
            ("U", _img("5", "v", "9.50"), _img("5", "v", "10.75")),
        ],
    )
    live = _live(spark, [(5, "v", Decimal("10.75"), None)])
    r = _row(delta_view(log, live, TABLE1), audited_operation="U")
    assert r["old_column3"] == Decimal("9.50")
    assert r["new_column3"] == Decimal("10.75")
    r_i = _row(delta_view(log, live, TABLE1), audited_operation="I")
    assert r_i["new_column3"] == Decimal("9.50")


def test_null_pk_events_never_match_later_events(spark):
    # compound-PK degradation: NULL pk rows must not borrow other NULL-pk
    # rows' diffs (reference: NULL = NULL correlated predicate matches none)
    log = _log(
        spark,
        [
            ("I", None, {"id": None, "column2": "a", "column3": None, "updated_by": None}),
            ("U", {"id": None, "column2": "a", "column3": None, "updated_by": None},
             {"id": None, "column2": "b", "column3": None, "updated_by": None}),
        ],
    )
    live = _live(spark, [])
    r = _row(delta_view(log, live, TABLE1), audited_operation="I")
    assert r["new_column2"] is None  # must NOT see the U's before-image


def test_views_survive_column_added_after_capture_started(spark):
    """Schema evolution through the VIEWS (the reference regenerates view
    DDL after adds/drops, audit_test.go:530–607; here the spec is the
    view's schema): events captured before a column existed simply lack
    its key in the maps — reconstruction yields typed NULLs for the old
    events and real values afterwards, no re-capture needed."""
    evolved = TableSpec(
        schema="teststar",
        name="table1",
        columns=TABLE1.columns + [("added_col", T.IntegerType())],
        primary_key="id",
    )
    ops = [
        # captured before added_col existed: maps have no 'added_col' key
        ("I", None, _img("1", "v1")),
        ("U", _img("1", "v1"), _img("1", "v2")),
        # after the add: full image carries the new column
        ("U", {**_img("1", "v2"), "added_col": "7"}, {**_img("1", "v2"), "added_col": "8"}),
    ]
    log = _log(spark, ops)
    live = spark.createDataFrame(
        [Row(id=1, column2="v2", column3=None, updated_by=None, added_col=8)],
        evolved.spark_schema(),
    )
    snap = snapshot_view(log, live, evolved)
    # event 2 (pre-add): added_col reconstructs via the NEXT event's
    # before_change (7), typed int
    r2 = _row(snap.select("audit_id", "added_col"), audit_id=2)
    assert r2["added_col"] == 7
    # event 3 (post-add): the new value
    r3 = _row(snap.select("audit_id", "added_col"), audit_id=3)
    assert r3["added_col"] == 8
    # event 1 (insert before add): next-before lookup also finds 7
    d = delta_view(log, live, evolved)
    r1 = _row(d.select("audit_id", "new_added_col"), audit_id=1)
    assert r1["new_added_col"] == 7


def test_next_before_frame_matches_shrinking_frame_reference(spark):
    """The growing frame (newest version down to the row before) gives the
    same __nb_* values as the shrinking reference frame (next row up to the
    end, first non-NULL): a key with a long history, keys present in
    before_change with a NULL value (they stop the search), absent keys
    (skipped) and NULL-pk rows (always NULL)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from audit_star_spark.operators.reconstruct import _reconstruct_base

    spec = TableSpec(
        schema="s",
        name="t",
        columns=[("a", T.IntegerType()), ("b", T.StringType())],
        primary_key="id",
    )
    rnd = random.Random(7)

    def image():
        m = {}
        for c in ("a", "b"):
            roll = rnd.random()
            if roll < 0.4:
                continue  # key absent: the lookup skips this version
            m[c] = None if roll < 0.55 else str(rnd.randrange(100))
        return m

    keys = ["hot"] * 400 + ["k1"] * 5 + ["k2"] * 2 + [None] * 6
    rnd.shuffle(keys)
    log = spark.createDataFrame(
        [(i + 1, k, image()) for i, k in enumerate(keys)],
        "audit_id long, primary_key string, before_change map<string,string>",
    )

    shrinking = (
        Window.partitionBy("primary_key")
        .orderBy("audit_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ref = []
    for c, t in spec.columns:
        tagged = F.when(
            F.map_contains_key("before_change", F.lit(c)),
            F.struct(F.element_at("before_change", F.lit(c)).alias("v")),
        )
        nb = F.first(tagged, ignorenulls=True).over(shrinking).getField("v").cast(t)
        ref.append(F.when(F.col("primary_key").isNotNull(), nb).alias(f"__nb_{c}"))
    cols = ["audit_id", "__nb_a", "__nb_b"]
    want = sorted(log.select("audit_id", *ref).collect())
    got = sorted(_reconstruct_base(log, None, spec).select(*cols).collect())
    assert got == want
    # the data exercises every case the frame must get right
    assert any(r["__nb_a"] is None for r in want)
    assert any(r["__nb_a"] is not None for r in want)
