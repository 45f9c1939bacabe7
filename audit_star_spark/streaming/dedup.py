"""Streaming deduplication of a change/event feed.

The reference's capture path cannot see duplicates — the PG trigger fires
exactly once per row change inside the user's transaction
(audit.go:872–926). A distributed ingest feed has no such guarantee
(at-least-once delivery, replayed micro-batches), so the Spark-native
engine needs an explicit exactly-once gate in front of the audit-event
builder.

Two operators, both built on Spark's stateful streaming dedup:

- :func:`dedup_stream` — ``dropDuplicatesWithinWatermark``: state for a
  key is kept only while it can still collide under the event-time
  watermark, so state size is bounded by (arrival rate x watermark), not
  by the key cardinality of the whole history. This is the 100 TB-safe
  default.
- :func:`dedup_stream_exact` — ``dropDuplicates``: unbounded state,
  exact across the entire stream lifetime. Only for low-cardinality keys
  (e.g. per-table provisioning control events).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def dedup_stream(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Drop re-delivered events whose duplicates arrive within the
    watermark horizon. Rows older than the watermark are dropped by the
    watermark itself, so every event is emitted at most once."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def dedup_stream_exact(events: DataFrame, keys: Sequence[str] = ("event_id",)) -> DataFrame:
    """Exact streaming dedup with unbounded per-key state."""
    return events.dropDuplicates(list(keys))


class StreamingNearDup:
    """Incremental MinHash-LSH near-duplicate detection on an arriving
    document stream — dedup-on-ingest, the shape a production corpus
    pipeline actually runs (don't re-scan 100 TB per day; compare each
    day's arrivals against the standing signature store).

    Per micro-batch (foreachBatch):

    1. MinHash/LSH signatures for the batch's documents (the SAME
       ``analytics.dedup.minhash_signatures`` the batch operator uses —
       one code path, two execution modes).
    2. Candidates = band-bucket collisions of new-vs-store plus
       new-vs-new. Pairs internal to the store were emitted by earlier
       batches and are excluded, so each qualifying pair is emitted
       EXACTLY once: in the batch where its later document arrives.
    3. Jaccard verification via the bottom-k sketch estimator: the store
       keeps, per document, only the ``sketch_k`` SMALLEST distinct
       shingle hashes (a bottom-k MinHash sketch), never the full
       shingle-hash set. For a candidate pair the estimator is

           X   = bottom-k of (sketch_a U sketch_b)
           J^  = |X n sketch_a n sketch_b| / min(k, |sketch_a U sketch_b|)

       which is EXACT whenever both documents have < k distinct shingles
       (the sketch then IS the set, and the denominator collapses to the
       true union size) and otherwise unbiased with std-error
       ~= sqrt(J(1-J)/k) — ~0.03 at J=0.7, k=256. The trade-off is
       documented and test-locked: only pairs whose exact Jaccard falls
       inside the +-tolerance band of the threshold may disagree with
       the batch operator.
    4. Pairs and the batch's signatures are written to batch-id
       partitions with dynamic overwrite — a replayed micro-batch
       rewrites its own partitions, so both sinks are idempotent under
       foreachBatch's at-least-once contract.

    Scale shape: the batch side is small and broadcast into both joins;
    the store side streams through the band join keyed on (band, key).
    The store grows by one batch of SKETCHES per trigger — O(docs x
    sketch_k) longs total, no raw text, NOT O(corpus tokens): at 100 TB
    the store is ~2 KB/doc regardless of document length, where the
    round-3 full-set store re-stored 10-20 % of the corpus.
    """

    def __init__(
        self,
        store_dir: str,
        pairs_dir: str,
        threshold: float = 0.7,
        sketch_k: int = 256,
    ):
        self.store_dir = store_dir
        self.pairs_dir = pairs_dir
        self.threshold = threshold
        self.sketch_k = sketch_k

    def _store(self, spark):
        import os

        from pyspark.errors import AnalysisException

        from audit_star_spark.streaming.store_compact import (
            compacted_through,
            recover_store,
            visible,
        )

        recover_store(self.store_dir)
        if not os.path.isdir(self.store_dir):
            return None
        try:
            # partitions of batches already folded into the -1 baseline
            # are pruned: a batch replayed after compaction re-creates
            # its partition next to the baseline copy, and reading both
            # would double every folded doc's signatures
            return visible(
                spark.read.parquet(self.store_dir),
                compacted_through(self.store_dir),
            )
        except AnalysisException as ex:
            # Only an absent/empty store reads as "no prior state"; any
            # other failure (corrupt footer, transient IO wrapped in an
            # analysis error) must propagate so the micro-batch fails and
            # replays instead of silently skipping cross-batch pairs.
            cls = getattr(ex, "getErrorClass", lambda: None)() or ""
            if "PATH_NOT_FOUND" in cls or "UNABLE_TO_INFER_SCHEMA" in cls:
                return None
            raise

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from audit_star_spark.analytics.dedup import (
            N_BANDS,
            _band_buckets,
            minhash_signatures,
        )

        spark = batch_df.sparkSession
        sig_cols = ["doc_id", "shash"] + [f"band_{b}" for b in range(N_BANDS)]
        # bottom-k sketch: the k smallest distinct shingle hashes. slice()
        # on a shorter array returns the whole array, so small documents
        # carry their exact set (estimator exact for them).
        new_sig = (
            minhash_signatures(batch_df)
            .select(*sig_cols)
            .withColumn(
                "sketch",
                F.slice(F.array_sort(F.array_distinct("shash")), 1, self.sketch_k),
            )
            .drop("shash")
            .persist()
        )
        prev = self._store(spark)
        if prev is not None:
            # replay safety: after a crash between the two sink writes the
            # store may already hold THIS batch's partition — reading it
            # back would double every batch doc (duplicate pairs rows)
            prev = prev.filter(F.col("ingest_batch_id") != batch_id)
            # a batch replayed AFTER compaction: its docs live inside the
            # -1 baseline where the partition filter cannot see them, and
            # every pair would join 2x per duplicated endpoint. The
            # batch's freshly-computed signatures are authoritative —
            # drop the store's copies of the batch's own doc_ids
            # (broadcast anti-join: map-side, the store never shuffles)
            prev = prev.join(
                F.broadcast(new_sig.select("doc_id")), "doc_id", "left_anti"
            )

        def buckets(sig, tag):
            return _band_buckets(sig).withColumn("is_new", F.lit(tag))

        all_buckets = buckets(new_sig, True)
        if prev is not None:
            all_buckets = buckets(prev.drop("ingest_batch_id"), False).unionByName(
                all_buckets
            )
        a, b = all_buckets.alias("a"), all_buckets.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                # at least one side new: store-internal pairs were
                # emitted when THEIR later doc arrived
                & (F.col("a.is_new") | F.col("b.is_new")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
        )
        sets = new_sig.select("doc_id", "sketch")
        if prev is not None:
            sets = sets.unionByName(prev.select("doc_id", "sketch"))
        j = cand.join(
            sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "sketch", "sk_a"
            ),
            "doc_a",
        ).join(
            sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sketch", "sk_b"
            ),
            "doc_b",
        )
        # bottom-k estimator (see class docstring): exact when both
        # sketches are complete sets, ~sqrt(J(1-J)/k) std-error otherwise.
        union_sk = F.array_union("sk_a", "sk_b")
        merged_k = F.slice(F.array_sort(union_sk), 1, self.sketch_k)
        est_num = F.size(F.array_intersect(merged_k, F.array_intersect("sk_a", "sk_b")))
        est_den = F.least(F.lit(self.sketch_k), F.size(union_sk))
        pairs = (
            j.select(
                "doc_a",
                "doc_b",
                (est_num.cast("double") / est_den).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= self.threshold)
            .withColumn("ingest_batch_id", F.lit(batch_id))
        )
        (
            pairs.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch_id")
            .parquet(self.pairs_dir)
        )
        (
            new_sig.withColumn("ingest_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch_id")
            .parquet(self.store_dir)
        )
        new_sig.unpersist()

    def start(
        self, docs_stream: DataFrame, checkpoint: str, available_now: bool = True
    ):
        """``available_now=False`` runs a live continuous trigger (the
        production dedup-on-ingest mode); True drains what exists and
        stops (the batch-replay / test mode)."""
        from audit_star_spark.streaming.store_compact import (
            bind_lineage,
            verify_lineage,
        )

        # a compacted store is bound to its checkpoint lineage: a fresh
        # checkpoint restarts batch ids at 0 and visible() would silently
        # prune every new batch (store_compact module docstring)
        verify_lineage(self.store_dir, checkpoint)
        writer = docs_stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        bind_lineage(self.store_dir, str(query.id))
        return query

    def pairs(self, spark) -> DataFrame | None:
        import os

        if not os.path.isdir(self.pairs_dir):
            return None
        return spark.read.parquet(self.pairs_dir).drop("ingest_batch_id")

    def compact(self, spark) -> None:
        """Fold the per-batch signature partitions into one
        ``ingest_batch_id=-1`` baseline — the log-compaction pass that
        bounds the store's file count (one partition per trigger
        otherwise). Crash-atomic temp-dir + rename swap (store_compact):
        pre- OR post-compaction contents stay readable through any crash
        window, and the recorded ``compacted_through`` lets _store()
        exclude a folded batch that gets replayed later (the replayed
        partition is pruned, so its signatures are never doubled). Run
        between triggers, like log compaction."""
        from pyspark.sql import functions as F

        from audit_star_spark.streaming.store_compact import (
            BASELINE_ID,
            compact_partitioned_store,
            compacted_through,
            max_live_batch,
            recover_store,
            visible,
        )

        recover_store(self.store_dir)
        ct = compacted_through(self.store_dir)
        live = visible(spark.read.parquet(self.store_dir), ct)
        new_ct = max(ct, max_live_batch(live))
        # belt-and-braces doc_id dedup when folding (the SCD2 read()
        # analog): a doc_id legitimately re-ingested in a later batch
        # leaves an old copy in one partition and a fresh one in another
        # — folding both verbatim would put the doc twice inside the -1
        # baseline, and every later batch would fan out duplicate pair
        # rows per duplicated endpoint. Keep only the newest copy
        # (max ingest_batch_id; max_by-struct argmax, no window shuffle
        # beyond the one groupBy this fold already pays).
        payload = [c for c in live.columns if c not in ("doc_id", "ingest_batch_id")]
        merged = (
            live.groupBy("doc_id")
            .agg(
                *[
                    F.expr(f"max_by({c}, ingest_batch_id)").alias(c)
                    for c in payload
                ]
            )
            .withColumn("ingest_batch_id", F.lit(BASELINE_ID))
        )
        compact_partitioned_store(self.store_dir, merged, new_ct)
