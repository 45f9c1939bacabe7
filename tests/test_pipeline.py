"""The composed corpus pipeline: per-stage counts are consistent with
the standalone operators it composes, and every artifact lands."""

import json
import os

from pyspark.sql import functions as F


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    from audit_star_spark.analytics.dedup import (
        dedup_clusters,
        exact_dedup,
        minhash_lsh_pairs,
    )
    from audit_star_spark.analytics.quality import gopher_quality_flags
    from audit_star_spark.pipeline import run_corpus_pipeline

    src = str(tmp_path / "docs.parquet")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(200)
        .write.parquet(src)
    )
    out = str(tmp_path / "out")
    stats = run_corpus_pipeline(spark, src, out, shards=2)

    # monotone survivor funnel
    assert (
        stats["n_input"]
        >= stats["n_after_quality"]
        >= stats["n_after_exact_dedup"]
        >= stats["n_after_near_dedup"]
        > 0
    )

    # stage counts equal the standalone operators composed by hand
    # (persist the slim verdict BEFORE the keep filter — the
    # filter-pushdown re-inlining lesson applies here too)
    docs = spark.read.parquet(src)
    flags = gopher_quality_flags(docs).select("doc_id", "keep").persist()
    keep = flags.filter(F.col("keep")).select("doc_id")
    gated = docs.join(keep, "doc_id")
    assert stats["n_after_quality"] == gated.count()
    canon = exact_dedup(gated).select(F.col("canonical_doc_id").alias("doc_id"))
    exact = gated.join(canon, "doc_id")
    assert stats["n_after_exact_dedup"] == exact.count()
    clusters = dedup_clusters(minhash_lsh_pairs(exact, threshold=0.7))
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    want_clean = exact.join(drop, "doc_id", "left_anti")
    assert stats["n_after_near_dedup"] == want_clean.count()

    # artifacts exist and agree with the stats
    chunks = spark.read.parquet(os.path.join(out, "chunks.parquet"))
    assert chunks.count() == stats["n_chunks"]
    assert chunks.select("doc_id").distinct().count() == stats["n_after_near_dedup"]
    packing = spark.read.parquet(os.path.join(out, "packing.parquet"))
    assert packing.count() == stats["n_after_near_dedup"]
    exported = spark.read.json(os.path.join(out, "clean_jsonl"))
    assert exported.count() == stats["n_after_near_dedup"]
    with open(os.path.join(out, "stats.json")) as f:
        assert json.load(f) == stats


def test_corpus_cli_smoke(spark, tmp_path, capsys):
    from audit_star_spark.__main__ import main

    src = str(tmp_path / "docs.parquet")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(60)
        .write.parquet(src)
    )
    rc = main(["corpus", "--in", src, "--out", str(tmp_path / "o"), "--shards", "1"])
    assert rc == 0
    assert "n_after_near_dedup" in capsys.readouterr().out


def test_pipeline_optional_mixing_stage(spark, tmp_path):
    """With mix_weights the pipeline adds a downsample-only stage whose
    survivor set matches apply_mix over the post-dedup frame; without it
    stats carry no mixing key."""
    import json
    import os

    from audit_star_spark.pipeline import run_corpus_pipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "in.parquet")
    docs.limit(120).write.parquet(src)
    out = str(tmp_path / "out")
    stats = run_corpus_pipeline(
        spark, src, out, mix_weights={"src0": 5.0}
    )
    assert "n_after_mixing" in stats
    assert 0 < stats["n_after_mixing"] <= stats["n_after_near_dedup"]
    with open(os.path.join(out, "stats.json")) as f:
        assert json.load(f)["n_after_mixing"] == stats["n_after_mixing"]


def test_pipeline_optional_substring_stage(spark, tmp_path):
    """--substring-dedup: duplicated >=K-token runs come OUT of the
    exported text (all but the first occurrence), and the removed-token
    stat matches the standalone operator over the same survivor set."""
    from audit_star_spark.pipeline import run_corpus_pipeline

    boiler = "all rights reserved contact us for details today"  # 8 toks
    rows = [
        # long enough to pass the quality gate, unique enough to
        # survive both document-level dedups
        (i, f"document number {i} body " + " ".join(
            f"w{i}x{j}" for j in range(40)) + f" {boiler}", "web")
        for i in range(6)
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)
    out = str(tmp_path / "out")
    stats = run_corpus_pipeline(spark, src, out, substring_k=8, shards=1)
    assert stats["n_after_near_dedup"] == 6
    # 5 of 6 copies of the 8-token boilerplate removed
    assert stats["n_substring_removed_tokens"] >= 5 * 8
    import glob
    import gzip
    import json as _json

    texts = []
    for f in glob.glob(os.path.join(out, "clean_jsonl", "*")):
        op = gzip.open if f.endswith(".gz") else open
        with op(f, "rt") as fh:
            for line in fh:
                texts.append(_json.loads(line)["text"])
    assert len(texts) == 6
    assert sum(1 for t in texts if boiler in t) == 1  # only the canonical


def test_pipeline_optional_classifier_and_dsir_stages(spark, tmp_path):
    """classifier_threshold gates on the model probability; dsir_target
    keeps the target slice plus the top-k most target-like candidates.
    Both stages are selection-only (monotone funnel) and their counts
    match the standalone operators composed by hand."""
    from audit_star_spark.pipeline import run_corpus_pipeline

    src = str(tmp_path / "docs.parquet")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(120)
        .write.parquet(src)
    )
    out = str(tmp_path / "out")
    target = "source IN ('src0', 'src1')"
    stats = run_corpus_pipeline(
        spark,
        src,
        out,
        classifier_threshold=0.5,
        dsir_target=target,
        dsir_keep=20,
    )
    assert (
        stats["n_after_near_dedup"]
        >= stats["n_after_classifier"]
        >= stats["n_after_dsir"]
        > 0
    )
    # the DSIR stage keeps all targets + at most dsir_keep candidates
    kept = spark.read.json(os.path.join(out, "clean_jsonl"))
    n_targets = kept.filter(F.expr(target)).count()
    n_cands = kept.filter(~F.expr(target)).count()
    assert n_cands <= 20
    assert stats["n_after_dsir"] == n_targets + n_cands


def test_pipeline_dsir_requires_keep(spark, tmp_path):
    import pytest

    from audit_star_spark.pipeline import run_corpus_pipeline

    src = str(tmp_path / "docs.parquet")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(20)
        .write.parquet(src)
    )
    with pytest.raises(ValueError, match="dsir_keep"):
        run_corpus_pipeline(
            spark, src, str(tmp_path / "out"), dsir_target="source = 'src0'"
        )


def test_pipeline_substring_engines_agree(spark, tmp_path):
    """substring_engine='suffix' (prefix-doubling rank pairs) must
    reproduce the hash engine's pipeline output exactly — same removed
    token stat, same exported texts."""
    import glob
    import gzip
    import json as _json

    from audit_star_spark.pipeline import run_corpus_pipeline

    boiler = "all rights reserved contact us for details today"
    rows = [
        (i, f"document number {i} body " + " ".join(
            f"w{i}x{j}" for j in range(40)) + f" {boiler}", "web")
        for i in range(6)
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)

    def run(engine, sub):
        out = str(tmp_path / sub)
        stats = run_corpus_pipeline(
            spark, src, out, substring_k=8, shards=1,
            substring_engine=engine,
        )
        texts = {}
        for f in glob.glob(os.path.join(out, "clean_jsonl", "*")):
            op = gzip.open if f.endswith(".gz") else open
            with op(f, "rt") as fh:
                for line in fh:
                    d = _json.loads(line)
                    texts[d["doc_id"]] = d["text"]
        return stats["n_substring_removed_tokens"], texts

    n_hash, t_hash = run("hash", "out_hash")
    n_suffix, t_suffix = run("suffix", "out_suffix")
    assert n_hash == n_suffix >= 5 * 8
    assert t_hash == t_suffix

    import pytest as _pytest

    with _pytest.raises(ValueError, match="substring_engine"):
        run_corpus_pipeline(
            spark, src, str(tmp_path / "bad"), substring_k=8,
            substring_engine="nope",
        )


def test_pipeline_leaves_session_cache_empty(spark, tmp_path):
    """Every stage frame the pipeline caches is released by the time it
    returns: after calls on two different inputs the session's cache
    holds nothing (a leaked entry would also serve a later call on the
    same path from stale data)."""
    from tests.conftest import SF_DIR

    from audit_star_spark.pipeline import run_corpus_pipeline

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other tests share this session
    assert cache.isEmpty()
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    for k, lo in enumerate((0, 200)):
        src = str(tmp_path / f"in{k}.parquet")
        docs.filter(F.col("doc_id") >= lo).orderBy("doc_id").limit(60).write.parquet(src)
        stats = run_corpus_pipeline(spark, src, str(tmp_path / f"out{k}"), shards=1)
        assert stats["n_after_near_dedup"] > 0
    assert cache.isEmpty()
