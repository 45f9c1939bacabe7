"""Batch audit-event builder — the heart of the capture path.

Given a CDC feed of change events (op, full before-image map, full
after-image map, metadata), produce audit-log rows with the exact record
semantics of the reference trigger (audit.go:872–926; SURVEY §1.2):

op  before_change                              change                 primary_key
I   NULL                                       NULL                   after[pk]
U   (before - after), values truncated @500    (after - before)       after[pk]
D   full before image, values truncated @500   NULL                   before[pk]
T   NULL                                       NULL                   NULL

plus sequence metadata: gapless monotone ``audit_id`` and the 1/1000
``sparse_time`` sampling (audit.go:881–886).

Everything is built-in Column algebra (map_filter / transform_values /
element_at) — whole-stage codegen applies; the only non-expression step is
the distributed gapless id assignment (operators.ids).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from audit_star_spark.functions.maps import (
    map_diff,
    map_key_present,
    map_lookup,
    truncate_values,
)
from audit_star_spark.operators.ids import gapless_ids

AUDIT_COLUMNS = [
    "audit_id",
    "changed_at",
    "changed_by",
    "sparse_time",
    "db_user",
    "client_addr",
    "client_port",
    "client_query",
    "operation",
    "before_change",
    "change",
    "primary_key",
]


def _pk_from(image: Column, pk_col: str | None) -> Column:
    """Stringified PK iff the image carries the pk column (A5+A6,
    audit.go:890–910); compound-PK tables degrade to NULL (SURVEY §7.5)."""
    if pk_col is None:
        return F.lit(None).cast("string")
    return F.when(map_key_present(image, pk_col), map_lookup(image, pk_col))


def audit_projection(
    columns: list[str],
    pk_col: str | None,
    truncate_len: int = 500,
    sparse_every: int = 1000,
    log_client_query: bool = False,
    client_query_truncate_len: int = 1000,
    store_insert_payload: bool = False,
) -> list[Column]:
    """The select list that turns an id-numbered feed with ``columns``
    into audit records (``AUDIT_COLUMNS``). Building it costs a py4j call
    per expression node, so a caller that builds events every micro-batch
    builds this once and applies it to each batch's :func:`gapless_ids`
    output."""
    cols = set(columns)
    op = F.col("op")
    before = F.col("before")
    after = F.col("after")

    before_change = (
        F.when(op == "U", truncate_values(map_diff(before, after), truncate_len))
        .when(op == "D", truncate_values(before, truncate_len))
        .otherwise(F.lit(None).cast("map<string,string>"))
    )
    change = F.when(op == "U", map_diff(after, before))
    if store_insert_payload:
        change = change.when(op == "I", truncate_values(after, truncate_len))
    change = change.otherwise(F.lit(None).cast("map<string,string>"))
    primary_key = (
        F.when(op.isin("I", "U"), _pk_from(after, pk_col))
        .when(op == "D", _pk_from(before, pk_col))
        .otherwise(F.lit(None).cast("string"))
    )

    def meta(name: str, default: Column) -> Column:
        return F.col(name) if name in cols else default

    client_query = (
        F.substring(meta("client_query", F.lit(None).cast("string")), 1, client_query_truncate_len)
        if log_client_query
        else F.lit(None).cast("string")
    )

    return [
        F.col("audit_id"),
        F.col("changed_at"),
        meta("changed_by", F.lit("default")).alias("changed_by"),
        # sparse_time: sampled time anchor, 1 per `sparse_every` events
        # (audit.go:882–886). Benefits from parquet min/max pruning the same
        # way the reference's partial index does (SURVEY §4).
        F.when((F.col("audit_id") % sparse_every) == 0, F.col("changed_at"))
        .otherwise(F.lit(None).cast("timestamp"))
        .alias("sparse_time"),
        meta("db_user", F.lit("spark")).alias("db_user"),
        meta("client_addr", F.lit(None).cast("string")).alias("client_addr"),
        meta("client_port", F.lit(None).cast("int")).alias("client_port"),
        client_query.alias("client_query"),
        op.alias("operation"),
        before_change.alias("before_change"),
        change.alias("change"),
        primary_key.alias("primary_key"),
    ]


def build_audit_events(
    feed: DataFrame,
    pk_col: str | None,
    order_by: list[str],
    truncate_len: int = 500,
    sparse_every: int = 1000,
    log_client_query: bool = False,
    client_query_truncate_len: int = 1000,
    id_mode: str = "distributed",
    id_start: int = 1,
    store_insert_payload: bool = False,
) -> DataFrame:
    """feed columns: op ('I'/'U'/'D'/'T'), before map<str,str>, after
    map<str,str>, changed_at timestamp, plus optional metadata columns
    changed_by / db_user / client_addr / client_port / client_query.
    ``order_by`` must totally order the feed (ingest order).

    ``store_insert_payload=True`` is a documented UPGRADE over the
    reference: INSERT events store the full after-image in ``change``
    (the reference stores nothing for I, audit.go:892–895, which is why
    its views must join the live table to reconstruct inserted rows).
    With the payload stored, the current table state is derivable from
    the log alone — see ``operators.reconstruct.latest_state``. Default
    False = faithful reference semantics."""
    # Sequence first (operates on the narrow feed, before map algebra).
    df = gapless_ids(feed, order_by=order_by, id_col="audit_id", start=id_start, mode=id_mode)
    return df.select(
        *audit_projection(
            feed.columns,
            pk_col,
            truncate_len=truncate_len,
            sparse_every=sparse_every,
            log_client_query=log_client_query,
            client_query_truncate_len=client_query_truncate_len,
            store_insert_payload=store_insert_payload,
        )
    )
