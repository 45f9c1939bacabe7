"""End-to-end corpus cleaning pipeline — the composed product surface of
the analytics layer: quality gate -> exact dedup -> near-dup dedup ->
optional source mixing -> chunking + packing layout -> sharded JSONL
export, with per-stage counts.

This is the "switch to this repo and run your pipeline" entry point: each
stage is exactly the standalone operator the driver gate verifies
(quality.gopher_quality_flags, dedup.exact_dedup, dedup.minhash_lsh_pairs
+ dedup_clusters, text.chunk_documents / sequence_packing,
corpus_io.export_jsonl) — the pipeline only composes and materializes.

Scale notes: stage boundaries are materialized (persist for the
stage-count scalars, parquet writes for the outputs) — at 100 TB each
boundary would be a storage write anyway, and the counts the report
needs are partial-aggregated scalars, not data collects. ``n_chunks`` is
an ``Observation`` on the chunks write itself: the written file is never
read back to count it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def run_corpus_pipeline(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    near_dup_threshold: float = 0.7,
    chunk_tokens: int = 64,
    overlap: int = 8,
    budget_tokens: int = 256,
    shards: int | None = None,
    mix_weights: dict[str, float] | None = None,
    substring_k: int | None = None,
    substring_engine: str = "hash",
    classifier_threshold: float | None = None,
    dsir_target: str | None = None,
    dsir_keep: int | None = None,
) -> dict:
    """Run the full cleaning pipeline over a documents parquet
    (``doc_id``, ``text``, extra columns carried through). Writes
    ``clean_jsonl/`` (surviving documents), ``chunks.parquet``,
    ``packing.parquet``, and ``stats.json`` under ``out_dir``; returns
    the stats dict."""
    from audit_star_spark.analytics.dedup import (
        dedup_clusters,
        exact_dedup,
        minhash_lsh_pairs,
    )
    from audit_star_spark.analytics.quality import gopher_quality_flags
    from audit_star_spark.analytics.text import chunk_documents, sequence_packing
    from audit_star_spark.sources.corpus_io import export_jsonl

    docs = spark.read.parquet(in_path)
    stats: dict[str, int] = {"n_input": docs.count()}

    # 1. rule-based quality gate (per-document, zero-shuffle scoring).
    # persist the slim verdict BEFORE filtering on keep: a filter on the
    # un-persisted chain gets predicate-pushed through the staged
    # projections, re-inlining the tokenizer ~177x into one interpreted
    # scan filter BELOW the spread repartition — measured 372s for 200
    # docs on one task vs ~1s staged (ARCHITECTURE.md, quality-chain
    # lessons). The cache pins the staged plan behind an
    # InMemoryRelation pushdown barrier.
    flags = gopher_quality_flags(docs).select("doc_id", "keep").persist()
    keep_ids = flags.filter(F.col("keep")).select("doc_id")
    gated = docs.join(keep_ids, "doc_id").persist()
    stats["n_after_quality"] = gated.count()
    flags.unpersist()

    # 2. exact dedup: keep each content hash's canonical (min) doc_id
    canon = exact_dedup(gated).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    exact = gated.join(canon, "doc_id").persist()
    stats["n_after_exact_dedup"] = exact.count()
    gated.unpersist()

    # 3. near-dup dedup: LSH pairs -> connected components -> keep each
    # cluster's minimum doc_id (docs in no cluster survive by default)
    pairs = minhash_lsh_pairs(exact, threshold=near_dup_threshold)
    clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    clean = exact.join(drop, "doc_id", "left_anti").persist()
    stats["n_after_near_dedup"] = clean.count()
    exact.unpersist()

    # 3b. optional exact-substring removal (Lee et al. 2022 granularity):
    # duplicated >= substring_k-token runs are cut out of all but their
    # first occurrence and the TEXT itself is rewritten before layouts —
    # paragraph-level boilerplate the document-level stages cannot touch.
    # preserve_case: duplicates are MATCHED case-insensitively (canonical
    # tokens) but the rewrite filters the original-case token stream, so
    # the surviving corpus keeps its casing; the only normalization the
    # stage applies is trim + whitespace-collapse (token granularity)
    # Two interchangeable engines (row-identical output, test-locked):
    # 'hash' = md5 window hashing (O(k) hash work per position);
    # 'suffix' = prefix-doubling rank pairs (collision-free, O(1) per
    # position, log2(k) distributed rank rounds) — the one to prefer at
    # Lee et al.'s min_len = 50, where hashing re-reads 50 tokens per
    # window.
    if substring_k:
        if substring_engine == "suffix":
            from audit_star_spark.analytics.dedup import suffix_dedup_rewrite

            rewritten = suffix_dedup_rewrite(
                clean,
                min_len=substring_k,
                mode="distributed",
                emit_text=True,
                preserve_case=True,
            )
        elif substring_engine == "hash":
            from audit_star_spark.analytics.dedup import (
                substring_dedup_rewrite,
            )

            rewritten = substring_dedup_rewrite(
                clean, k=substring_k, emit_text=True, preserve_case=True
            )
        else:
            raise ValueError(
                f"substring_engine must be 'hash' or 'suffix', "
                f"got {substring_engine!r}"
            )
        sub = (
            clean.drop("text")
            .join(
                rewritten.select(
                    "doc_id",
                    F.col("clean_text").alias("text"),
                    "n_removed_tokens",
                ),
                "doc_id",
            )
            .persist()
        )
        stats["n_substring_removed_tokens"] = int(
            sub.agg(F.sum("n_removed_tokens")).collect()[0][0] or 0
        )
        clean.unpersist()
        clean = sub.drop("n_removed_tokens")

    # 3c. optional model-based quality gate (the fastText-style stage of
    # published pipelines, after the rule gate and dedup): train the
    # self-supervised hashing-trick classifier on the survivors and keep
    # documents whose ROUNDED probability clears the threshold (the
    # exp-ulp-proof decision rule of the gate query)
    if classifier_threshold is not None:
        from audit_star_spark.analytics.classifier import (
            hashed_features,
            score_docs,
            train_logreg,
        )
        from audit_star_spark.analytics.text import TOKENS_EXPR

        labels = clean.select(
            "doc_id",
            (F.size(F.expr(TOKENS_EXPR)) >= 30).cast("int").alias("label"),
        )
        feats = hashed_features(clean)
        w = train_logreg(feats, labels)
        kept = (
            score_docs(feats, w)
            .filter(F.round("prob", 6) >= float(classifier_threshold))
            .select("doc_id")
        )
        scored = clean.join(kept, "doc_id").persist()
        stats["n_after_classifier"] = scored.count()
        clean.unpersist()
        clean = scored

    # 3d. optional DSIR importance resampling toward a target slice
    # (Xie et al. 2023): keep the dsir_keep candidates whose hashed
    # n-gram profile is most target-like, PLUS the target slice itself
    # (selection only ever filters candidates)
    if dsir_target is not None:
        if not dsir_keep or dsir_keep < 1:
            raise ValueError("dsir_target requires dsir_keep >= 1")
        from audit_star_spark.analytics.dsir import dsir_resample

        picked = dsir_resample(clean, dsir_target, k=dsir_keep).select(
            "doc_id"
        )
        keep = clean.filter(F.expr(dsir_target)).select("doc_id").unionByName(
            picked
        )
        selected = clean.join(keep.distinct(), "doc_id").persist()
        stats["n_after_dsir"] = selected.count()
        clean.unpersist()
        clean = selected

    # 3e. optional source mixing: downsample-only toward the target
    # proportions (deterministic hash keep, binding source keeps 100%)
    if mix_weights:
        from audit_star_spark.analytics.text import apply_mix

        mixed = apply_mix(clean, mix_weights).persist()
        stats["n_after_mixing"] = mixed.count()
        clean.unpersist()
        clean = mixed

    # 4. training layouts + export (all from the SAME survivor set)
    chunks = chunk_documents(clean, chunk_tokens=chunk_tokens, overlap=overlap)
    written = Observation()
    chunks.observe(written, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "chunks.parquet"))
    stats["n_chunks"] = written.get["n"]

    packing = sequence_packing(clean, budget_tokens=budget_tokens)
    packing.write.mode("overwrite").parquet(os.path.join(out_dir, "packing.parquet"))

    export_jsonl(clean, os.path.join(out_dir, "clean_jsonl"), shards=shards)
    clean.unpersist()

    with open(os.path.join(out_dir, "stats.json"), "w") as f:
        json.dump(stats, f, indent=1)
    return stats
