"""Structured Streaming capture path (EP2 of SURVEY §3).

The reference captures changes with an in-transaction trigger
(audit.go:872–926) — synchronous, totally ordered by a PG sequence. Spark
has no in-transaction hook, so capture is a micro-batch streaming job over
a change feed:

    readStream(change events) -> foreachBatch:
        assign gapless audit ids continuing from checkpointed offset
        build audit records (operators.event_builder)
        append to the log table

Sequence state (the ``nextval`` analogue, audit.go:855–867) lives in a
JSON state file next to the Spark checkpoint; batches are idempotent via
recorded batch_id -> base-offset mapping, so foreachBatch replays after
failure do not double-assign ids or double-append (the replayed batch
overwrites its own deterministic output partition directory).

Append-only enforcement (A12, audit.go:627–645): structurally the log is
only ever touched through ``_append_batch``, and since round 2 an ACTIVE
guard (plans/append_guard.py) re-walks the log's file manifest before
every batch write and raises on any delete/rewrite evidence — the
parquet-directory analog of the reference's ``no_dml_on_audit_table``
constraint trigger.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from audit_star_spark.operators import event_builder
from audit_star_spark.plans.append_guard import AppendOnlyGuard

FEED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("before", T.MapType(T.StringType(), T.StringType())),
        T.StructField("after", T.MapType(T.StringType(), T.StringType())),
        T.StructField("changed_at", T.TimestampType()),
        T.StructField("changed_by", T.StringType()),
        T.StructField("db_user", T.StringType()),
        T.StructField("client_addr", T.StringType()),
        T.StructField("client_port", T.IntegerType()),
    ]
)


# one LatestStateStore version: read with this schema, never inferred
STATE_SCHEMA = T.StructType(
    [
        T.StructField("primary_key", T.StringType()),
        T.StructField("row", T.MapType(T.StringType(), T.StringType())),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("updated_at", T.TimestampType()),
        T.StructField("deleted", T.BooleanType()),
    ]
)


class SequenceState:
    """Checkpointed per-table sequence offset with batch idempotence."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {"next_id": 1, "batches": {}}

    def base_for_batch(self, batch_id: int) -> tuple[int, bool]:
        """(base offset for this batch, already_processed)."""
        st = self.load()
        key = str(batch_id)
        if key in st["batches"]:
            return st["batches"][key], True
        return st["next_id"], False

    def commit_batch(self, batch_id: int, base: int, n_rows: int) -> None:
        st = self.load()
        st["batches"][str(batch_id)] = base
        st["next_id"] = max(st["next_id"], base + n_rows)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f)
        os.replace(tmp, self.path)


class LatestStateStore:
    """Streaming-maintained compacted current-row snapshot.

    The reference's views join the *live* source table (B3,
    audit.go:1107–1113) — a table PostgreSQL maintains for free. Spark has
    no such table, so the ingest job derives one: per micro-batch, merge
    the batch's final row images into the previous snapshot and keep the
    winner per primary key (argmax by feed ``event_id``). Deletes drop the
    key; TRUNCATE (statement-level, no pk — audit.go:915–917) drops every
    row whose final event precedes the truncate.

    Micro-batches are NOT ordered by event id (file-source listing order
    is arbitrary), so the merge must be commutative: deletes are kept as
    **tombstones** (``deleted`` flag) — dropping the key instead would let
    an older event arriving in a later batch resurrect it — and TRUNCATE
    persists as a monotone event-id **watermark** in each version's
    ``_meta.json``; rows at-or-below the watermark are filtered whenever
    they surface. ``read()`` hides both; the final state is then a pure
    argmax over the whole feed regardless of batch partitioning.

    Durability is a versioned directory per applied batch plus an
    atomically-replaced ``_CURRENT`` pointer — a foreachBatch replay
    no-ops (version already applied), so the store inherits the ingest's
    exactly-once semantics without a transaction log. At scale the merge
    is one shuffle of (previous snapshot ∪ batch) on primary_key; the
    snapshot stays partitioned by the same key, and old versions are
    reclaimed immediately (keep-2). Tombstones are reclaimed by log
    compaction cadence (they are per-deleted-key, not per-event)."""

    KEEP_VERSIONS = 2

    def __init__(self, root: str):
        self.root = root
        # versions served by registered views (provision pins what it
        # binds so GC can't delete a snapshot out from under a temp view)
        self.pinned: set[int] = set()
        os.makedirs(root, exist_ok=True)

    def pin(self, version: int) -> None:
        self.pinned.add(version)

    def unpin(self, version: int) -> None:
        self.pinned.discard(version)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_version(self) -> int | None:
        if os.path.exists(self._pointer):
            with open(self._pointer) as f:
                return int(f.read().strip())
        return None

    def _vpath(self, v: int) -> str:
        return os.path.join(self.root, f"v{v:08d}")

    def _meta(self, v: int) -> dict:
        path = os.path.join(self._vpath(v), "_meta.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        return {"truncate_watermark": None}

    def _read_raw(self, spark: SparkSession) -> tuple[DataFrame | None, dict]:
        v = self.current_version()
        if v is None:
            return None, {"truncate_watermark": None}
        return spark.read.schema(STATE_SCHEMA).parquet(self._vpath(v)), self._meta(v)

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Current snapshot: (primary_key, row map, last_event_id,
        updated_at); tombstones hidden. None before the first batch."""
        raw, _ = self._read_raw(spark)
        if raw is None:
            return None
        return raw.filter(~F.col("deleted")).drop("deleted")

    def apply_batch(
        self, spark: SparkSession, batch: DataFrame, batch_id: int, pk_col: str
    ) -> None:
        cur = self.current_version()
        if cur is not None and cur >= batch_id:
            return  # replay of an applied batch: state already includes it
        pk = (
            F.when(
                F.col("op").isin("I", "U"), F.element_at("after", F.lit(pk_col))
            ).when(F.col("op") == "D", F.element_at("before", F.lit(pk_col)))
        )
        rows = (
            batch.filter(F.col("op").isin("I", "U", "D"))
            .select(
                pk.alias("primary_key"),
                F.when(F.col("op") == "D", F.col("before"))
                .otherwise(F.col("after"))
                .alias("row"),
                F.col("event_id").alias("last_event_id"),
                F.col("changed_at").alias("updated_at"),
                (F.col("op") == "D").alias("deleted"),
            )
            .filter(F.col("primary_key").isNotNull())
        )
        # statement-level truncate: driver-side scalar (one tiny agg per
        # micro-batch — control flow, not data flow)
        last_t = batch.filter(F.col("op") == "T").agg(F.max("event_id")).collect()[0][0]
        prev, meta = self._read_raw(spark)
        watermark = max(
            (v for v in (meta["truncate_watermark"], last_t) if v is not None),
            default=None,
        )
        cand = rows if prev is None else prev.unionByName(rows)
        from pyspark.sql import Window

        w = Window.partitionBy("primary_key").orderBy(F.col("last_event_id").desc())
        state = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if watermark is not None:
            # truncated rows AND their tombstones are gone for good; the
            # persisted watermark keeps late-arriving older events out too
            state = state.filter(F.col("last_event_id") > F.lit(watermark))
        vpath = self._vpath(batch_id)
        state.write.mode("overwrite").parquet(vpath)
        with open(os.path.join(vpath, "_meta.json"), "w") as f:
            json.dump({"truncate_watermark": watermark}, f)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, self._pointer)
        self._gc(keep={batch_id, cur})

    def _gc(self, keep: set) -> None:
        import shutil

        keep_names = {f"v{v:08d}" for v in (set(keep) | self.pinned) if v is not None}
        recent = sorted(
            (e for e in os.listdir(self.root) if e.startswith("v")), reverse=True
        )[: self.KEEP_VERSIONS]
        for entry in os.listdir(self.root):
            if entry.startswith("v") and entry not in keep_names and entry not in recent:
                shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)


def typed_state(state: DataFrame, spec) -> DataFrame:
    """Project a LatestStateStore snapshot to the table's typed columns —
    the drop-in 'live table' side for the reconstruction views (B3)."""
    return state.select(
        *[
            F.element_at("row", F.lit(c)).cast(t).alias(c)
            for c, t in spec.columns
        ]
    )


class AuditIngest:
    """Per-table streaming capture job (the trigger analogue, C9)."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        log_dir: str,
        checkpoint_dir: str,
        pk_col: str | None,
        log_client_query: bool = False,
        max_files_per_trigger: int | None = None,
        state_dir: str | None = None,
    ):
        self.spark = spark
        self.source_dir = source_dir
        self.log_dir = log_dir
        self.checkpoint_dir = checkpoint_dir
        self.pk_col = pk_col
        self.log_client_query = log_client_query
        self.max_files_per_trigger = max_files_per_trigger
        self.state = SequenceState(os.path.join(checkpoint_dir, "sequence.json"))
        self.guard = AppendOnlyGuard(log_dir)
        self.state_store = (
            LatestStateStore(state_dir) if state_dir and pk_col else None
        )
        # the audit-record select list, built once: rebuilding its lambdas
        # and when-chains every micro-batch costs a py4j round trip per
        # expression node
        self.projection = event_builder.audit_projection(
            FEED_SCHEMA.fieldNames(), pk_col, log_client_query=log_client_query
        )
        # post-batch hooks (provision re-registers views here so their
        # live side re-resolves to the newest state snapshot)
        self.on_batch: list = []
        self.query = None

    def _append_batch(self, batch: DataFrame, batch_id: int) -> None:
        base, seen = self.state.base_for_batch(batch_id)
        batch = batch.persist()
        n = batch.count()
        if n == 0:
            batch.unpersist()
            return
        staged: list[DataFrame] = []  # the id pass's cached staging frame
        try:
            # A12: active append-only enforcement — refuse to extend a log
            # that shows update/delete evidence; the replayed batch's own
            # directory is the one sanctioned rewrite (idempotent replay)
            self.guard.verify(ignore_prefix=f"__batch={batch_id}")
            events = event_builder.gapless_ids(
                batch, order_by=["event_id"], id_col="audit_id", start=base, staged=staged
            ).select(*self.projection)
            # partition by batch id: a replayed batch overwrites exactly its
            # own directory (dynamic overwrite) => idempotent append. The id
            # goes in as a string literal, which generated code references
            # instead of inlining, so every batch reuses one compiled class
            # (directory name and inferred int type are unchanged).
            (
                events.withColumn("__batch", F.lit(str(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__batch")
                .parquet(self.log_dir)
            )
            self.guard.update()
            if self.state_store is not None:
                self.state_store.apply_batch(self.spark, batch, batch_id, self.pk_col)
        finally:
            for df in (batch, *staged):
                df.unpersist()
        if not seen:
            self.state.commit_batch(batch_id, base, n)
        for cb in self.on_batch:
            cb(batch_id)

    def start(self, available_now: bool = True):
        reader = (
            self.spark.readStream.schema(FEED_SCHEMA)
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.parquet(self.source_dir)
        writer = (
            stream.writeStream.foreachBatch(self._append_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        self.query = writer.start()
        return self.query

    def stop(self) -> None:
        """Pause capture, keep checkpoint (the reference DISABLEs triggers
        rather than dropping them, audit.go:1024–1033)."""
        if self.query is not None:
            self.query.stop()

    def log(self) -> DataFrame:
        return self.spark.read.parquet(self.log_dir).drop("__batch")

    def latest_state(self) -> DataFrame | None:
        """Streaming-maintained current-row snapshot (None if the job was
        built without ``state_dir`` or no batch has been applied)."""
        if self.state_store is None:
            return None
        return self.state_store.read(self.spark)
