"""Temporal reconstruction views — delta / snapshot / compare.

Re-implements the reference's three generated views (delta
audit.go:1051–1143, snapshot :1262–1359, compare :1362–1473) Spark-first.

The reference's core temporal operator (SURVEY §2B B2) is, per event and
per column, "the first LATER event of the same primary_key whose
before_change map CONTAINS this column" — expressed there as one correlated
``DISTINCT ON`` subquery / LATERAL join **per column**, i.e. O(columns)
index rescans of the log per output row. Here it is ONE window over ONE
``partitionBy(primary_key) orderBy(audit_id)`` shuffle, with O(columns)
cheap window expressions sharing that single sort — the plan Catalyst
produces has a single Exchange + Window node feeding pure projections, and
it survives a 100× scale-up because the shuffle is keyed by primary_key
(high cardinality, no funnel).

Key-presence subtlety: the reference's predicate is
``(before_change -> 'c') IS NOT NULL`` — JSON *key presence*, which is true
even when the stored value is JSON null. ``first(element_at(...), ignorenulls)``
would get that wrong; we tag presence with a struct wrapper so NULL values
of present keys are still "found".
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from audit_star_spark.catalog import TableSpec
from audit_star_spark.util import qcol

AUDIT_HEAD = [
    "audit_id",
    "primary_key",
    "audited_changed_at",
    "audited_operation",
    "audited_db_user",
    "audited_change_agent",
]


def _head(log: DataFrame) -> list[Column]:
    """Common SELECT head of all three views (audit.go:1055–1060)."""
    return [
        F.col("audit_id"),
        F.col("primary_key"),
        F.col("changed_at").alias("audited_changed_at"),
        F.col("operation").alias("audited_operation"),
        F.col("db_user").alias("audited_db_user"),
        F.col("changed_by").alias("audited_change_agent"),
    ]


def _reconstruct_base(
    log: DataFrame, live: DataFrame | None, spec: TableSpec, broadcast_live: bool = True
) -> DataFrame:
    """Shared core: per column c attach

    - ``__nb_c``   : typed value of c from the next later before_change that
                     contains key c (B2, one shared window);
    - ``__live_c`` : typed value of c from the live row (B3 left join), NULL
                     when the table has no valid single-column PK (reference
                     emits a NULL literal then, audit.go:1083/1290/1399).
    """
    # "the nearest LATER row" as the last row of a frame that grows from
    # the newest version down: Spark evaluates an unbounded-preceding frame
    # incrementally, O(n) per key, where rowsBetween(1, unboundedFollowing)
    # + first() re-scans the rest of the partition for every row (O(n^2))
    w = (
        Window.partitionBy("primary_key")
        .orderBy(F.col("audit_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # one SELECT with every per-column window expression: identical window
    # specs collapse into a single physical Window node over a single
    # Exchange+Sort (withColumn-per-column would emit one node each)
    nb_cols = []
    for c, t in spec.columns:
        present = F.map_contains_key(F.col("before_change"), F.lit(c))
        tagged = F.when(present, F.struct(F.element_at("before_change", F.lit(c)).alias("v")))
        nb = F.last(tagged, ignorenulls=True).over(w).getField("v").cast(t)
        # NULL-pk events never match the correlated subquery in the
        # reference (NULL = NULL is not true); mirror that.
        nb_cols.append(
            F.when(F.col("primary_key").isNotNull(), nb).alias(f"__nb_{c}")
        )
    out = log.select("*", *nb_cols)

    if live is not None and spec.has_valid_primary_key():
        pk, pk_t = spec.primary_key, spec.pk_type
        live_sel = live.select(
            qcol(pk).alias("__live_join_key"),
            *[qcol(c).cast(t).alias(f"__live_{c}") for c, t in spec.columns],
        )
        if broadcast_live:
            live_sel = F.broadcast(live_sel)
        out = out.join(
            live_sel,
            out["primary_key"].cast(pk_t) == live_sel["__live_join_key"],
            "left",
        ).drop("__live_join_key")
    else:
        for c, t in spec.columns:
            out = out.withColumn(f"__live_{c}", F.lit(None).cast(t))
    return out


def _old_raw(c: str, t) -> Column:
    return F.element_at("before_change", F.lit(c)).cast(t)


def _chg_raw(c: str, t) -> Column:
    return F.element_at("change", F.lit(c)).cast(t)


def delta_view(
    log: DataFrame, live: DataFrame | None, spec: TableSpec, **kw
) -> DataFrame:
    """One row per event; old_c from the stored diff, new_c reconstructed.

    Reference delta (audit.go:1070–1101): old_c = before_change->>c;
    new_c = op='I' ? COALESCE(next_before_c, live_c) : change->>c.
    """
    base = _reconstruct_base(log, live, spec, **kw)
    cols = _head(base)
    for c, t in spec.columns:
        cols.append(_old_raw(c, t).alias(f"old_{c}"))
        cols.append(
            F.when(
                F.col("operation") == "I",
                F.coalesce(qcol(f"__nb_{c}"), qcol(f"__live_{c}")),
            )
            .otherwise(_chg_raw(c, t))
            .alias(f"new_{c}")
        )
    return base.select(*cols)


def snapshot_view(
    log: DataFrame, live: DataFrame | None, spec: TableSpec, **kw
) -> DataFrame:
    """Full row state immediately after each event.

    Reference snapshot (audit.go:1281–1300):
    c = COALESCE(change->>c, COALESCE(next_before_c, live_c)).
    """
    base = _reconstruct_base(log, live, spec, **kw)
    cols = _head(base)
    for c, t in spec.columns:
        cols.append(
            F.coalesce(_chg_raw(c, t), qcol(f"__nb_{c}"), qcol(f"__live_{c}")).alias(c)
        )
    return base.select(*cols)


def compare_view(
    log: DataFrame, live: DataFrame | None, spec: TableSpec, **kw
) -> DataFrame:
    """Full old row and full new row per event.

    Reference compare (audit.go:1382–1411):
    old_c = COALESCE(before->>c, CASE op='I' THEN NULL
                                 ELSE COALESCE(next_before_c, live_c) END)
    new_c = COALESCE(change->>c, COALESCE(CASE op IN ('D','T') THEN NULL
                                          ELSE next_before_c END, live_c))
    (note: for D/T the live value still leaks into new_c — faithful quirk.)
    """
    base = _reconstruct_base(log, live, spec, **kw)
    cols = _head(base)
    for c, t in spec.columns:
        null_t = F.lit(None).cast(t)
        cols.append(
            F.coalesce(
                _old_raw(c, t),
                F.when(F.col("operation") == "I", null_t).otherwise(
                    F.coalesce(qcol(f"__nb_{c}"), qcol(f"__live_{c}"))
                ),
            ).alias(f"old_{c}")
        )
        cols.append(
            F.coalesce(
                _chg_raw(c, t),
                F.coalesce(
                    F.when(F.col("operation").isin("D", "T"), null_t).otherwise(
                        qcol(f"__nb_{c}")
                    ),
                    qcol(f"__live_{c}"),
                ),
            ).alias(f"new_{c}")
        )
    return base.select(*cols)


def latest_state(log: DataFrame, spec: TableSpec) -> DataFrame:
    """Current table state reconstructed from the log ALONE — one typed
    row per surviving primary key.

    Requires a log captured with ``store_insert_payload=True`` (the
    engine's documented upgrade over the reference): every row version is
    then fully derivable from ``change`` maps, so the current value of a
    column is its value in the LATEST event whose ``change`` mentions it,
    and a key whose latest event is D/T has no row.

    Physical shape: ONE aggregation keyed by primary_key — per column an
    argmax-by-(audit_id) struct max with map-side partials; no window, no
    join, one shuffle. Struct-valued max() buffers are not mutable in
    Spark's hash aggregation map, so this plans as SortAggregate (an
    in-partition sort by pk feeding the combine); the hash-aggregable
    alternative — per-column max(audit_id) then a value-fetch join — was
    rejected because the join re-shuffles the full log a second time.
    """
    present = log.filter(F.col("primary_key").isNotNull())
    aggs = [
        F.max(F.struct(F.col("audit_id"), F.col("operation"))).alias("__last"),
    ]
    for c, _t in spec.columns:
        tagged = F.when(
            F.map_contains_key(F.col("change"), F.lit(c)),
            F.struct(
                F.col("audit_id"),
                F.element_at("change", F.lit(c)).alias("v"),
            ),
        )
        aggs.append(F.max(tagged).alias(f"__m_{c}"))
    g = present.groupBy("primary_key").agg(*aggs)
    alive = g.filter(~F.col("__last.operation").isin("D", "T"))
    return alive.select(
        *[
            qcol(f"__m_{c}").getField("v").cast(t).alias(c)
            for c, t in spec.columns
        ]
    )
