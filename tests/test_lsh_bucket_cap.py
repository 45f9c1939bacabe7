"""LSH bucket-size guard (max_bucket): quadratic-bucket candidates are
bounded, clustering survives via the star anchor, and the default path
is byte-identical to before."""

from pyspark.sql import functions as F

from audit_star_spark.analytics.dedup import (
    dedup_clusters,
    minhash_lsh_pairs,
)


def _boilerplate_corpus(spark, n_dup=30, n_unique=20):
    """n_dup near-identical documents (one shared template with a tiny
    suffix change that keeps Jaccard ~1) + unique filler docs."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [(i, base + f"tail {i % 2}") for i in range(n_dup)]
    rows += [
        (1000 + i, f"totally unique document number {i} " + "filler words " * (i + 3))
        for i in range(n_unique)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bucket_cap_bounds_candidates_and_keeps_cluster(spark):
    docs = _boilerplate_corpus(spark)
    exact = minhash_lsh_pairs(docs, threshold=0.7)
    capped = minhash_lsh_pairs(docs, threshold=0.7, max_bucket=5)
    n_exact, n_capped = exact.count(), capped.count()
    # the 30-dup bucket yields ~n^2/2 exact pairs; the star caps it at n-1
    assert n_exact > 100
    assert n_capped < n_exact
    assert n_capped <= 4 * 30  # star per band x duplicates, loose bound
    # every capped pair is a true near-dup pair (subset of exact)
    ex = {(r["doc_a"], r["doc_b"]) for r in exact.collect()}
    cp = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert cp <= ex
    # downstream clustering is preserved: the dup block is ONE component
    # under both candidate sets
    for pairs in (exact, capped):
        cl = dedup_clusters(pairs)
        dup_clusters = (
            cl.filter(F.col("doc_id") < 1000)
            .select("cluster_id")
            .distinct()
            .count()
        )
        assert dup_clusters == 1


def test_default_path_unchanged(spark):
    docs = _boilerplate_corpus(spark, n_dup=6, n_unique=5)
    a = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
         for r in minhash_lsh_pairs(docs).collect()}
    b = {(r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
         for r in minhash_lsh_pairs(docs, max_bucket=None).collect()}
    assert a == b and len(a) > 0


def test_cross_corpus_pairs_never_mix_sides(spark):
    """A x B only: no intra-A or intra-B pairs, and results agree with
    the self-join operator restricted to cross pairs."""
    from audit_star_spark.analytics.dedup import cross_corpus_near_dups

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    got = {(r["doc_a"], r["doc_b"]) for r in cross_corpus_near_dups(a, b).collect()}
    assert all(x % 2 == 0 and y % 2 == 1 for x, y in got)
    want = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in minhash_lsh_pairs(docs, threshold=0.7).collect()
        if r["doc_a"] % 2 != r["doc_b"] % 2
    }
    # normalize got to (min, max) for comparison with the self-join view
    got_n = {(min(x, y), max(x, y)) for x, y in got}
    assert got_n == want
    assert len(got_n) > 0


def test_short_docs_have_null_band_keys_and_never_pair(spark):
    """Docs with fewer than 3 tokens have no shingles, so every band key
    is NULL; they must pair with nobody (an empty-set "Jaccard" is 0/0 =
    NaN, which Spark orders above every threshold). A 3-token doc has one
    shingle and pairs normally. Same output with and without the bucket
    cap."""
    from audit_star_spark.analytics.dedup import N_BANDS, minhash_signatures

    long_a = " ".join(f"w{i}" for i in range(40))
    long_b = " ".join(f"v{i}" for i in range(25))
    rows = [
        (1, long_a), (2, long_a),
        (3, long_b), (4, long_b.upper()),
        (5, "one two three"), (6, "one two three"),
        (10, "a b"), (11, "a b"), (12, "a"), (13, ""), (14, "w0 w1"),
        (15, "  one   two  "),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    bands = [f"band_{b}" for b in range(N_BANDS)]
    short = {
        r["doc_id"]: [r[c] for c in bands]
        for r in minhash_signatures(docs).collect()
        if r["doc_id"] >= 10
    }
    assert short == {i: [None] * N_BANDS for i in (10, 11, 12, 13, 14, 15)}

    want = {(1, 2, 1.0), (3, 4, 1.0), (5, 6, 1.0)}
    for cap in (None, 1, 2):
        got = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_lsh_pairs(docs, threshold=0.7, max_bucket=cap).collect()
        }
        assert got == want, cap
