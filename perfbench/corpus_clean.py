"""corpus_clean: ``run_corpus_pipeline`` with default stages over a seeded
synthetic corpus (the LLM-data layer)."""

from __future__ import annotations

import contextlib
import statistics

import corpusgen
from harness import RunDirs, Tracer, now, wrapped

PARAMS = corpusgen.CorpusParams(n_docs=200)


class CorpusClean:
    name = "corpus_clean"

    def __init__(self, spark, dirs: RunDirs, seed: int, seconds: int):
        self.spark, self.dirs, self.seconds = spark, dirs, seconds
        self.corpus = corpusgen.generate(PARAMS, seed)
        self.in_dir = dirs.fresh("corpus")
        corpusgen.write_corpus(self.corpus, self.in_dir)
        self.n_keep = len(self.corpus.expected_keep())
        self.n_exact = self.corpus.expected_after_exact()
        self.attempted = self.failed = 0

    def setup(self) -> None:
        """Warm-up: one throwaway pipeline call on the same corpus (the
        code paths are data-shape dependent; a smaller corpus leaves the
        first measured call cold)."""
        from audit_star_spark.pipeline import run_corpus_pipeline

        run_corpus_pipeline(self.spark, self.in_dir, self.dirs.fresh("warm-out"))

    def call(self, k: int) -> tuple[dict, float, str]:
        from audit_star_spark.pipeline import run_corpus_pipeline

        out = self.dirs.fresh("out", str(k))
        t = now()
        stats = run_corpus_pipeline(self.spark, self.in_dir, out)
        dur = now() - t
        self.attempted += 1
        self.failed += not self.check(stats)
        return stats, dur, out

    def check(self, stats: dict) -> bool:
        """Gate survivors and exact-dedup survivors match the generator;
        near dedup removes at most the injected near duplicates."""
        c = self.corpus
        return (
            stats["n_input"] == len(c.docs)
            and stats["n_after_quality"] == self.n_keep
            and stats["n_after_exact_dedup"] == self.n_exact
            and self.n_exact - len(c.near_pairs) <= stats["n_after_near_dedup"] <= self.n_exact
            and stats["n_chunks"] > 0
        )

    def measure(self) -> dict:
        from auditrun import dir_bytes

        durs = []
        for k in range(max(2, self.seconds // 8)):
            _stats, dur, out = self.call(k)
            durs.append(dur)
        n = len(self.corpus.docs)
        rate = n * len(durs) / sum(durs)
        return {
            "throughput_per_s": rate,
            "latency_p50_ms": statistics.median(durs) * 1000,
            # per input token: doc lengths vary with the seed, and output
            # size follows the tokens that survive, not the doc count
            "bytes_per_item": dir_bytes(out) / self.corpus.n_tokens(),
            "_samples": {"pipeline_s": durs},
            "_named": {"corpus_docs_per_s": (rate, "docs/s")},
        }

    # -- traced run -------------------------------------------------------------

    def measure_traced(self, tracer: Tracer, jvm) -> dict:
        """Each stage's public function in pipeline order, each
        materialized, then one pipeline call untraced and one traced for
        the overhead share."""
        from pyspark.sql import functions as F

        from audit_star_spark.analytics import dedup, quality, text
        from audit_star_spark.sources import corpus_io

        spark = self.spark
        gc0, jit0 = jvm.gc_s(), jvm.jit_s()
        docs = spark.read.parquet(self.in_dir)
        n = docs.count()
        with tracer.span("quality.flags") as s_q:
            flags = quality.gopher_quality_flags(docs).select("doc_id", "keep").persist()
            kept = flags.filter(F.col("keep")).count()
        gated = docs.join(flags.filter(F.col("keep")).select("doc_id"), "doc_id").persist()
        gated.count()
        with tracer.span("dedup.exact") as s_e:
            canon = dedup.exact_dedup(gated).select(F.col("canonical_doc_id").alias("doc_id"))
            exact = gated.join(canon, "doc_id").persist()
            exact.count()
        with tracer.span("dedup.lsh_pairs") as s_l:
            pairs = dedup.minhash_lsh_pairs(exact).persist()
            n_pairs = pairs.count()
        with tracer.span("dedup.clusters") as s_c:
            clusters = dedup.dedup_clusters(pairs).persist()
            clusters.count()
        drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        clean = exact.join(drop, "doc_id", "left_anti").persist()
        clean.count()
        with tracer.span("text.chunk") as s_ch:
            text.chunk_documents(clean).write.format("noop").mode("overwrite").save()
        with tracer.span("text.packing") as s_p:
            text.sequence_packing(clean).write.format("noop").mode("overwrite").save()
        with tracer.span("corpus_io.export") as s_x:
            corpus_io.export_jsonl(clean, self.dirs.fresh("traced", "jsonl"))
        survivors = {r[0] for r in exact.select("doc_id").collect()}
        found = {(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()}
        injected = [
            tuple(sorted(p))
            for p in self.corpus.near_pairs
            if p[0] in survivors and p[1] in survivors
        ]
        recall = sum(p in found for p in injected) / max(1, len(injected))
        for df in (flags, gated, exact, pairs, clusters, clean):
            df.unpersist()
        gc, jit = jvm.gc_s() - gc0, jvm.jit_s() - jit0
        stages = [
            (quality, "gopher_quality_flags"),
            (dedup, "exact_dedup"),
            (dedup, "minhash_lsh_pairs"),
            (dedup, "dedup_clusters"),
            (text, "chunk_documents"),
            (text, "sequence_packing"),
            (corpus_io, "export_jsonl"),
        ]
        _stats, untraced_wall, _out = self.call(0)
        with contextlib.ExitStack() as stack:
            for mod, fn in stages:
                stack.enter_context(wrapped(tracer, mod, fn, f"pipeline.{fn}"))
            _stats, traced_wall, _out = self.call(1)
        return {
            "quality.flags_s": s_q.dur,
            "quality.keep_share": kept / n,
            "dedup.exact_s": s_e.dur,
            "dedup.lsh_pairs_s": s_l.dur,
            "dedup.lsh_pairs": n_pairs,
            "dedup.near_dup_recall": recall,
            "dedup.clusters_s": s_c.dur,
            "text.chunk_s": s_ch.dur,
            "text.packing_s": s_p.dur,
            "corpus_io.export_s": s_x.dur,
            "jvm.gc_s": gc,
            "jvm.jit_compile_s": jit,
            "tracing.overhead_share": traced_wall / untraced_wall - 1,
        }
