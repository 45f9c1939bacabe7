"""Deduplication operators over ``documents`` (north-star layer):

- exact dedup on normalized text (hash groupBy, keep-first);
- MinHash + LSH banding near-dup candidate discovery with exact
  n-gram-Jaccard verification;
- SimHash fingerprints + Hamming-bucketed near-dup pairs.

Scale notes: every stage is a hash shuffle on a key (content hash, LSH
band bucket, simhash prefix) — no all-pairs comparison ever happens; the
pairwise Jaccard/Hamming verification only runs on bucket-collision
candidates, which is the standard web-scale dedup shape (one wide shuffle
per stage, skew handled by AQE).

Deterministic hashing: md5-hex (identical across engines); minhash_j(doc)
= min over shingles of md5(j || '|' || shingle) compared as hex strings.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from audit_star_spark.analytics.text import TOKENS_EXPR

N_PERMS = 9
N_BANDS = 3  # 3 bands x 3 rows
ROWS_PER_BAND = N_PERMS // N_BANDS

NORM_TEXT_EXPR = "regexp_replace(trim(lower(text)), '\\\\s+', ' ')"


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep-first exact dedup on whitespace-normalized text. Returns one
    row per distinct content: canonical (min) doc_id + duplicate count."""
    h = F.md5(F.expr(NORM_TEXT_EXPR))
    return (
        docs.select(h.alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_dups"),
        )
    )


# universal-hash permutation family over a Mersenne prime: one md5 per
# shingle, then mh_j = min over shingles of (A[j]*h + B[j]) mod P — 9x
# fewer md5 evaluations than salt-per-permutation hashing
MH_P = 2_147_483_647  # 2^31 - 1; keeps A[j]*h in int64
MH_A = [1203983, 2965051, 4423217, 6122179, 7767721, 9383449, 11003047, 12589031, 14197559]
MH_B = [356887, 1466309, 2662847, 3867793, 5071177, 6271499, 7481321, 8692583, 9902749]


def _shingled(docs: DataFrame) -> DataFrame:
    """doc_id, shingles, shingle-hash list — built in STAGED projections:
    each stage references the previous stage's materialized column, never
    re-inlines the expression (inlined token arrays re-tokenize the whole
    document on every lambda element access — quadratic blowup)."""
    from audit_star_spark.util import spread

    toks = spread(docs).select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
    sh = toks.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(toks) >= 3 THEN "
            "transform(sequence(0, size(toks) - 3), "
            "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) "
            "ELSE array() END"
        ).alias("shingles"),
    )
    return sh.select(
        "doc_id",
        "shingles",
        F.expr(
            f"transform(shingles, "
            f"s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % {MH_P})"
        ).alias("shash"),
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id + minhash_0..k-1 (universal-hash minima over shingle hashes)
    + LSH band keys. Carries only the 60-bit shingle hashes, never the
    shingle strings — signatures are checkpointed and self-joined downstream,
    and long arrays shuffle ~5x lighter than 3-word string arrays."""
    mh = _shingled(docs).select(
        "doc_id",
        "shash",
        *[
            F.array_min(
                F.expr(f"transform(shash, h -> ({MH_A[j]} * h + {MH_B[j]}) % {MH_P})")
            ).alias(f"mh_{j}")
            for j in range(N_PERMS)
        ],
    )
    # F.concat (not concat_ws): NULL minhashes (empty shingle sets) must
    # propagate to a NULL band key, not collapse into a shared bucket
    bands = []
    for b in range(N_BANDS):
        parts: list[F.Column] = []
        for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND):
            if parts:
                parts.append(F.lit("|"))
            parts.append(F.col(f"mh_{j}").cast("string"))
        bands.append(F.md5(F.concat(*parts)).alias(f"band_{b}"))
    return mh.select("*", *bands)


def minhash_lsh_pairs(
    docs: DataFrame, threshold: float = 0.7, max_bucket: int | None = None
) -> DataFrame:
    """Near-duplicate pairs: LSH band-bucket collision candidates, verified
    with exact Jaccard over distinct shingle HASHES (exact modulo md5
    collisions, mirrored in the oracle). Returns (doc_a, doc_b, jaccard)
    with doc_a < doc_b, jaccard >= threshold.

    ``max_bucket`` (opt-in) is the 100 TB skew guard: a band bucket with
    B members yields B^2/2 candidate pairs from the self-join — one
    degenerate bucket (thousands of boilerplate near-identical documents
    sharing a band value) turns into a quadratic hot task no AQE skew
    split can fix, because the blowup is in the JOIN OUTPUT, not the
    partition. Buckets larger than ``max_bucket`` switch to STAR
    candidates — every member pairs with the bucket's minimum doc_id —
    bounding their candidate count at B-1. Trade-off (documented, not
    implied): the returned PAIR LIST may omit intra-bucket pairs of an
    oversized bucket, but downstream clustering is preserved whenever
    members verify against the anchor (the star keeps the component
    connected and transitivity does the rest — see the bucket-cap test).
    Default None = exact pair semantics, required by the gate oracle."""
    # lazy localCheckpoint (not persist): the buckets and the verification
    # sets both read sig, and the candidate self-join reads the buckets
    # twice — without a materialization barrier the md5-heavy signature
    # pipeline runs several times. The blocks are built once on the first
    # action and released with the frame instead of leaking into the
    # session cache (at real scale: write signatures to storage once)
    sig = minhash_signatures(docs).localCheckpoint(eager=False)
    buckets = _band_buckets(sig)
    if max_bucket is not None:
        # bucket stats shuffle on the SAME (band, key) the join uses —
        # co-partitioned, no extra exchange pattern at scale
        stats = buckets.groupBy("band", "key").agg(
            F.count("*").alias("__bn"), F.min("doc_id").alias("__anchor")
        )
        tagged = buckets.join(stats, ["band", "key"])
        buckets = tagged.filter(F.col("__bn") <= max_bucket).drop("__bn", "__anchor")
        star = (
            tagged.filter(
                (F.col("__bn") > max_bucket)
                & (F.col("doc_id") != F.col("__anchor"))
            )
            .select(
                F.col("__anchor").alias("doc_a"), F.col("doc_id").alias("doc_b")
            )
            .distinct()
        )
    else:
        star = None
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    if star is not None:
        cand = cand.unionByName(star).distinct()
    sets_a = sig.select(
        F.col("doc_id").alias("doc_a"), F.array_distinct("shash").alias("set_a")
    )
    sets_b = sig.select(
        F.col("doc_id").alias("doc_b"), F.array_distinct("shash").alias("set_b")
    )
    j = cand.join(sets_a, "doc_a").join(sets_b, "doc_b")
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    jacc = inter.cast("double") / union
    return (
        j.select("doc_a", "doc_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, order_by_rarity: bool = False
) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard near-dup pairs via a
    prefix-filtered inverted index (the PPJoin candidate rule): order each
    document's shingles by a consistent global total order and index only
    the first ``|set| - ceil(t*|set|) + 1`` of them — two sets with
    Jaccard >= t MUST collide on that prefix, so the candidate set is
    complete regardless of WHICH total order is used. Candidates are
    verified with exact set Jaccard over the FULL sets.

    Two orderings, same exact output:

    - **Hash order** (default): the prefix is an in-row ``array_sort`` +
      ``slice`` of the shingle-hash set — ZERO shuffles before the
      candidate join, which is keyed on prefix shingles only (~
      ``1 - t`` of the corpus' shingle occurrences). Measured 4x faster
      than the df-ranked plan at sf0.1 (9.0s -> 2.1s warmed).
    - **Rarity order** (``order_by_rarity=True``): rank shingles by
      ascending document frequency via two window shuffles over the full
      inverted index. Hot stop-shingles never enter the prefix, which
      minimizes candidate pairs (~3x fewer on 5k synthetic docs). Worth
      the two extra full-data shuffles only when the corpus has heavy
      shingle skew AND the verification join dominates — at web scale,
      measure both on a sample.

    The PPJoin size bound (min size >= ceil(t * max size)) is applied
    inside the join either way. The whole pipeline runs over 60-bit
    shingle HASHES (one md5 per shingle, computed once): long-typed join
    keys, sort keys and set elements; Jaccard is exact modulo md5
    collisions, mirrored in the oracle.
    """
    sets = _shingled(docs).select(
        "doc_id", F.array_sort(F.array_distinct("shash")).alias("sset")
    )
    # reused by candidate generation AND verification (two downstream
    # consumers of an md5-heavy projection); at real scale: a staged table
    sets = sets.persist()
    if order_by_rarity:
        inv = sets.select(
            "doc_id", F.size("sset").alias("sz"), F.explode("sset").alias("sh")
        )
        ranked = inv.withColumn(
            "df", F.count("*").over(Window.partitionBy("sh"))
        ).withColumn(
            "rn", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "sh"))
        )
        # round(.., 9) before ceil: IEEE noise can push t*sz a few ulps
        # ABOVE the exact integer (0.07*100 -> 7.000000000000001,
        # ceil -> 8), shortening the prefix by one and missing an
        # exact-boundary candidate the verification step would accept
        prefix = ranked.filter(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.round(F.lit(threshold) * F.col("sz"), 9)) + 1
        )
    else:
        prefix = sets.select(
            "doc_id",
            F.size("sset").alias("sz"),
            F.explode(
                F.expr(
                    f"slice(sset, 1, size(sset) - "
                    f"CAST(ceil(round({threshold} * size(sset), 9)) AS INT) + 1)"
                )
            ).alias("sh"),
        )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.ceil(F.round(F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz")), 9))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    j = cand.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("set_a")), "doc_a"
    ).join(
        sets.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("set_b")), "doc_b"
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        j.select("doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    docs: DataFrame, threshold: float = 0.5, max_df: int | None = None
) -> DataFrame:
    """Asymmetric n-gram (3-shingle) CONTAINMENT near-dup pairs (Broder
    1997's resemblance/containment split): C(A->B) = |A ∩ B| / |A| — the
    fraction of A's shingles that also appear in B. Jaccard misses the
    quotes-and-wrappers case (a short document wholly contained in a
    long one has tiny Jaccard but containment 1.0); containment is the
    right detector for partial inclusion, excerpting, and
    template-plus-payload pages.

    Candidate rule (the asymmetric prefix filter): if C(A->B) >= t then
    A shares at least ceil(t * |A|) shingles with B, so the first
    ``|A| - ceil(t * |A|) + 1`` elements of A's sorted shingle-hash set
    MUST hit B's full set. Each document's prefix probes the FULL
    inverted index (not the prefix-vs-prefix join Jaccard permits —
    containment has no symmetric size bound: small-in-big is exactly
    the signal). Verification is exact set intersection over the full
    sets; both directional containments are reported and a pair
    survives when the LARGER one clears ``threshold``.

    The DuckDB gate oracle is definitionally INDEPENDENT of the prefix
    filter: it joins on ANY shared shingle (complete for t > 0) — a
    prefix-filter completeness bug would surface as missing rows.

    Scale shape: one in-row prefix slice (zero pre-join shuffles, the
    hash-order PPJoin lesson), one equi-join keyed on shingle hash
    against the full index, distinct, then a bounded verification join.
    Same 60-bit shingle-hash domain as ngram_jaccard_pairs.

    ``max_df`` (opt-in) is the 100 TB skew guard, the containment
    analogue of minhash_lsh_pairs' ``max_bucket``: a stop-shingle
    appearing in B documents multiplies every probe-prefix occurrence
    into B candidates — a quadratic hot JOIN OUTPUT no AQE partition
    split can fix. Shingles with document frequency > ``max_df`` are
    dropped from the candidate INDEX only (the df aggregate shuffles on
    the same key as the join — co-partitioned); verification still uses
    full sets, so every REPORTED containment stays exact. Trade-off
    (documented, not implied): a pair whose prefix evidence is entirely
    hot shingles is missed. Default None = exact candidate semantics,
    required by the gate oracle."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if max_df is not None and max_df < 1:
        raise ValueError(f"max_df must be >= 1, got {max_df}")
    sets = _shingled(docs).select(
        "doc_id", F.array_sort(F.array_distinct("shash")).alias("sset")
    )
    sets = sets.persist()
    probe = sets.filter(F.size("sset") >= 1).select(
        "doc_id",
        F.explode(
            F.expr(
                f"slice(sset, 1, size(sset) - "
                f"CAST(ceil(round({threshold} * size(sset), 9)) AS INT) + 1)"
            )
        ).alias("sh"),
    )
    index = sets.select(
        F.col("doc_id").alias("doc_i"), F.explode("sset").alias("sh")
    )
    if max_df is not None:
        df_stats = index.groupBy("sh").agg(F.count("*").alias("__df"))
        index = (
            index.join(df_stats, "sh")
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    cand = (
        probe.join(index, "sh")
        .filter(F.col("doc_id") != F.col("doc_i"))
        .select(
            F.least("doc_id", "doc_i").alias("doc_a"),
            F.greatest("doc_id", "doc_i").alias("doc_b"),
        )
        .distinct()
    )
    j = cand.join(
        sets.select(F.col("doc_id").alias("doc_a"), F.col("sset").alias("set_a")),
        "doc_a",
    ).join(
        sets.select(F.col("doc_id").alias("doc_b"), F.col("sset").alias("set_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    c_ab = inter.cast("double") / F.size("set_a")
    c_ba = inter.cast("double") / F.size("set_b")
    return j.select(
        "doc_a",
        "doc_b",
        c_ab.alias("containment_a_in_b"),
        c_ba.alias("containment_b_in_a"),
    ).filter(
        F.greatest("containment_a_in_b", "containment_b_in_a")
        >= F.lit(threshold)
    )


SIMHASH_BITS = 60
_TOK_HASHES = (
    f"transform({TOKENS_EXPR}, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
)
# bit j of the simhash: majority vote of bit j over all token hashes.
# Operates on a pre-materialized tok_hashes COLUMN — hashing tokens inside
# the per-bit fold would redo the md5 work 60x. Bit extraction is integer
# shift/mask (shiftright + %), not pow()-based double math: the inner
# lambda runs bits x tokens times and is the whole cost of the operator.
SIMHASH_FOLD_EXPR = (
    f"aggregate(sequence(0, {SIMHASH_BITS - 1}), CAST(0 AS BIGINT), (acc, j) -> acc + "
    f"CASE WHEN aggregate(tok_hashes, 0, "
    f"(s, h) -> s + CASE WHEN shiftright(h, j) % 2 = 1 THEN 1 ELSE -1 END"
    f") > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END)"
)


def simhash_fingerprints_fold(docs: DataFrame) -> DataFrame:
    """60-bit SimHash per document — pure-expression variant (nested
    per-bit fold over a pre-materialized tok_hashes column, in-row, no
    shuffle). Kept as the no-Python-workers fallback; LOSES to the Arrow
    bit-packed variant 9.2s vs 1.4s at 10x-replicated sf0.1 (the fold is
    interpreted expression eval, bits x tokens per row), so
    ``simhash_fingerprints`` points at the packed one — see
    ARCHITECTURE.md "SimHash: fold vs packed". An earlier alternative
    (explode + 61 bit-count aggs) measured 2.4x slower than this fold.
    """
    from audit_star_spark.util import spread

    th = spread(docs).select("doc_id", F.expr(_TOK_HASHES).alias("tok_hashes"))
    return th.select("doc_id", F.expr(SIMHASH_FOLD_EXPR).alias("simhash"))


def simhash_fingerprints_packed(docs: DataFrame) -> DataFrame:
    """Bit-packed Arrow variant of ``simhash_fingerprints``: token hashing
    stays JVM-side (md5 + conv in codegen), the 60-bit majority vote runs
    in numpy over Arrow batches — one ``(flat >> j) & 1`` pass per bit
    with ``np.add.reduceat`` per-row sums, so the Python cost is 60 linear
    passes over the batch's flattened hash array instead of an interpreted
    bits×tokens lambda per row.

    Measured 6.5x faster than the in-row fold at 10x-replicated sf0.1
    (1.4s vs 9.2s, local[32]) with bit-identical output — the winner; see
    ARCHITECTURE.md "SimHash: fold vs packed"."""
    from pyspark.sql.functions import pandas_udf

    from audit_star_spark.util import spread

    @pandas_udf("long")
    def _simhash(tok_hashes: pd.Series) -> pd.Series:
        import numpy as np

        n = len(tok_hashes)
        if n == 0:
            return pd.Series([], dtype="int64")
        lens = np.fromiter((len(x) for x in tok_hashes), dtype=np.int64, count=n)
        nonempty = lens > 0
        if not nonempty.any():
            return pd.Series(np.zeros(n, dtype=np.int64))
        flat = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in tok_hashes if len(x)]
        )
        # row-start offsets into flat, for the nonempty rows only
        ne_lens = lens[nonempty]
        starts = np.zeros(len(ne_lens), dtype=np.int64)
        np.cumsum(ne_lens[:-1], out=starts[1:])
        out_ne = np.zeros(len(ne_lens), dtype=np.int64)
        for j in range(SIMHASH_BITS):
            ones = np.add.reduceat((flat >> j) & 1, starts)
            # majority of bit j: ones > tokens/2  (vote = 2*ones - len > 0)
            out_ne |= ((2 * ones > ne_lens).astype(np.int64)) << j
        out = np.zeros(n, dtype=np.int64)
        out[nonempty] = out_ne
        return pd.Series(out)

    th = spread(docs).select("doc_id", F.expr(_TOK_HASHES).alias("tok_hashes"))
    return th.select("doc_id", _simhash("tok_hashes").alias("simhash"))


# the measured winner is the packed variant (6.5x at ~sf1 scale)
simhash_fingerprints = simhash_fingerprints_packed


def hamming_bands(total_bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(start_bit, width) spans splitting ``total_bits`` into
    ``max_hamming + 1`` contiguous bands. Pigeonhole: two words within
    ``max_hamming`` Hamming distance have at most ``max_hamming`` bands
    containing a differing bit, so they agree EXACTLY on >= 1 band —
    band-equality blocking therefore has 100% recall for qualifying
    pairs (unlike any single-prefix bucket, which misses a pair that
    happens to differ in a high bit)."""
    # max_hamming >= total_bits asks for EVERY pair (bitwise complements
    # qualify but differ in every 1-bit band, so band-equality blocking
    # would silently miss them) — refuse rather than return a blocking
    # scheme that cannot deliver the exact-recall contract
    if max_hamming >= total_bits:
        raise ValueError(
            f"max_hamming={max_hamming} >= total_bits={total_bits}: every "
            "pair qualifies; use an explicit all-pairs join instead of "
            "band blocking"
        )
    # cap at one bit per band (width-0 bands would have a constant key —
    # an accidental all-pairs join); recall stays exact at the cap: a pair
    # at distance <= total_bits - 1 agrees on >= 1 bit
    n = min(max_hamming + 1, total_bits)
    base, extra = divmod(total_bits, n)
    out, start = [], 0
    for i in range(n):
        w = base + (1 if i < extra else 0)
        out.append((start, w))
        start += w
    return out


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash with EXACT-recall multi-band blocking:
    the 60-bit fingerprint splits into ``max_hamming + 1`` bands
    (:func:`hamming_bands`) and candidates are band-equality collisions
    — every pair at <= max_hamming is guaranteed to collide in some
    band, no all-pairs product. Exact Hamming verifies; DISTINCT folds
    multi-band collisions of the same pair. Candidate cost is ~(bands)x
    the old single-prefix bucket, recall is provably 100% (locked by
    tests/test_ahash.py's brute-force recall twin for the image analog
    and test_oracle_parity's DuckDB mirror here)."""
    bands = hamming_bands(SIMHASH_BITS, max_hamming)
    # lazy localCheckpoint instead of persist: materializes the
    # fingerprints ONCE on the first action (eager=True would run Spark
    # jobs at DataFrame-construction time even if the result is never
    # executed) and releases the blocks when the DataFrame is
    # unreferenced (a bare persist leaks the cache into the session; at
    # real scale: write signatures to storage). Lineage is truncated, so
    # executor loss after materialization cannot recompute the blocks —
    # acceptable for this derived, cheap-to-rebuild input.
    fp = simhash_fingerprints(docs).localCheckpoint(eager=False)
    band_vals = F.array(
        *[
            F.expr(f"shiftright(simhash, {s}) & {(1 << w) - 1}")
            for s, w in bands
        ]
    )
    bk = fp.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band", "val")
    )
    a, b = bk.alias("a"), bk.alias("b")
    ham = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


DRIVER_CC_MAX_EDGES = 2_000_000


def dedup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    driver_cc_max_edges: int = DRIVER_CC_MAX_EDGES,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-duplicate pairs: assign every
    document appearing in ``pairs`` (doc_a, doc_b) the MINIMUM doc_id
    reachable through the duplicate graph — the canonical-representative
    step that turns pairwise dedup output into keep/drop decisions.

    Scale-adaptive, the graph analog of Spark's broadcast-join decision:

    - **Driver union-find** when the edge list fits comfortably on the
      driver (< ``driver_cc_max_edges``; ~32 MB at the default). Near-dup
      edge sets are a tiny fraction of the corpus — even a 100 TB corpus
      with a 0.1% duplicate rate yields an edge list in the low millions —
      and a distributed fixpoint over a broadcast-scale graph spends its
      entire wall time scheduling near-empty stages. Union-find is
      O(E α(E)) and exact. Set ``driver_cc_max_edges=0`` to force the
      distributed path.
    - **Iterative min-label propagation** otherwise: label(v) starts as
      v; each round joins labels across edges and keeps the minimum;
      converges in O(component diameter) rounds. Each round is one
      shuffle join + one aggregation; ``localCheckpoint`` truncates the
      growing lineage so round N's plan does not replay rounds 1..N-1 —
      the standard Spark shape for fixpoint graph algorithms
      (GraphX/GraphFrames do the same under the hood). Pass
      ``checkpoint_dir`` to swap the per-round localCheckpoint for a
      reliable checkpoint on stable storage: an executor loss then
      resumes from the last round instead of killing the fixpoint
      (plans/iterate.py has the trade; only the distributed path
      iterates, so the flag is a no-op on the union-find path).
    """
    from audit_star_spark.plans.iterate import iter_materialize
    spark = pairs.sparkSession
    if driver_cc_max_edges:
        # Probe the size via persist + count, then collect FROM CACHE.
        # The tempting one-pass form — limit(max).collect() — executes the
        # expensive pairs pipeline repeatedly: collect-with-limit runs
        # incrementally (1 partition, then x4, x16, ... until the limit is
        # satisfied), and a near-dup edge list never reaches the 2M bound,
        # so every scale-up replays the whole upstream (measured 5.2s ->
        # 2.3s for the ngram gate query at sf0.1 after this change).
        edges_df = pairs.select("doc_a", "doc_b").persist()
        n_edges = edges_df.count()
        if n_edges < driver_cc_max_edges:
            edge_rows = edges_df.collect()
            edges_df.unpersist()
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for a, b in edge_rows:
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:  # union by min keeps the canonical label exact
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
            # an Arrow table, not a list of tuples: a pickled local relation
            # costs its consumer a Python worker round trip
            nodes = list(parent)
            return spark.createDataFrame(
                pa.table(
                    {
                        "doc_id": pa.array(nodes, pa.int64()),
                        "cluster_id": pa.array([find(v) for v in nodes], pa.int64()),
                    }
                )
            )
    # distributed path: derive from the already-cached probe projection
    # when one exists so the pairs pipeline is never executed again
    base = edges_df if driver_cc_max_edges else pairs.select("doc_a", "doc_b")
    edges = (
        base.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(base.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    # Size the iteration to the graph, not the cluster: near-dup edge
    # sets are a tiny fraction of the corpus, and a fixpoint loop over 32
    # partition-per-stage plans spends its wall time on task scheduling.
    # ~100k edges per partition keeps every round dense; with billions of
    # edges this grows back to full parallelism.
    sc = pairs.sparkSession.sparkContext
    n_edges = edges.count()
    if driver_cc_max_edges:
        edges_df.unpersist()  # distributed edges are materialized now
    parts = max(1, min(sc.defaultParallelism, n_edges // 100_000 + 1))
    if parts < sc.defaultParallelism:
        rebal = iter_materialize(
            edges.repartition(parts, "dst"), checkpoint_dir
        )
        edges.unpersist()
        edges = rebal
    labels = iter_materialize(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id")),
        checkpoint_dir,
    )

    def propagate(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges.dst == lbl.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        return lbl.join(neighbor_min, lbl.doc_id == neighbor_min.src, "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )

    # Two hops per materialization round: near-dup components are tiny,
    # so wall time is dominated by per-job scheduling, not data — halving
    # the checkpoint/convergence jobs halved the measured iteration time.
    # Convergence test: labels only ever decrease, so the label sum is
    # strictly decreasing until fixpoint — one tiny agg job, no
    # changed-flag join.
    prev_sum: int | None = None
    for _ in range(max(1, max_iterations // 2)):
        labels = iter_materialize(propagate(propagate(labels)), checkpoint_dir)
        cur = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur == prev_sum:
            break
        prev_sum = cur
    edges.unpersist()
    return labels


def span_dedup_stats(docs: DataFrame, span_tokens: int = 10) -> DataFrame:
    """Sub-document (span-level) deduplication stats — the granularity
    published LLM-corpus recipes dedup at BELOW whole documents (repeated
    boilerplate paragraphs inside otherwise-unique pages): cut each
    document's token stream into non-overlapping ``span_tokens``-token
    spans, hash each span, and report per document how many of its spans
    also appear in at least one OTHER document.

    Scale shape — ONE corpus scan, three keyed exchanges, no join: spans
    explode in-row (narrow); (doc, span) dedup is a keyless hash
    aggregate with map-side combine; the span's distinct-doc count is a
    window count over span_hash on that already-distinct stream (a
    self-join here would rescan the corpus and re-shuffle both sides —
    the first cut did exactly that, visible as two identical unshared
    Exchanges in the plan); the per-doc rollup partial-aggregates before
    its exchange. Cost is O(corpus tokens) end to end, no driver step.

    Hashing matches the DuckDB oracle exactly (md5-prefix integers, the
    same idiom as the minhash family). Counts are on each document's
    DISTINCT spans (a span repeated within one doc is one unit of dedup
    pressure, not many)."""
    toks = F.expr(TOKENS_EXPR)
    spans = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            # CASE guard: sequence(0, -1) is Spark's DESCENDING [0, -1]
            # (the same pitfall as quality.with_char_entropy) — a doc
            # shorter than one span must produce NO spans, not two
            # phantom ones (caught by the hypothesis model test)
            F.expr(
                f"CASE WHEN size(toks) >= {span_tokens} THEN "
                f"transform(sequence(0, CAST(floor(size(toks) / {span_tokens}) AS INT) - 1), "
                f"i -> CAST(conv(substring(md5(array_join("
                f"slice(toks, i * {span_tokens} + 1, {span_tokens}), ' ')), 1, 15), 16, 10) AS BIGINT)) "
                f"ELSE CAST(array() AS array<bigint>) END"
            ).alias("span_hashes"),
        )
        .filter(F.size("span_hashes") > 0)
        .select("doc_id", F.explode("span_hashes").alias("span_hash"))
    )
    dist = spans.distinct()  # within-doc dedup (one keyed hash aggregate)
    counted = dist.withColumn(
        "n_docs", F.count("*").over(Window.partitionBy("span_hash"))
    )
    per_doc = counted.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum((F.col("n_docs") > 1).cast("long")).alias("n_dup_spans"),
    )
    return per_doc.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        (F.col("n_dup_spans") / F.col("n_spans")).alias("dup_span_fraction"),
    )


def sentence_span_dedup(
    pages: DataFrame, span: int = 3, text_col: str = "page"
) -> DataFrame:
    """C4's span-level deduplication (Raffel et al. 2020 §2.2: "we
    discarded all but one of any three-sentence span of text occurring
    more than once in the data set") — SENTENCE granularity, the unit
    between whole-document exact dedup and token-window substring
    dedup. Sentences are the newline-delimited lines of ``text_col``
    (the c4_line_clean convention: upstream extraction owns sentence
    splitting). Every sliding ``span``-sentence window is keyed; for
    each key occurring more than once, the globally-FIRST occurrence by
    (doc_id, pos) survives and every other occurrence's sentences are
    removed (overlapping removed windows union at sentence level).

    Returns one row per page: (doc_id, n_sentences, n_dup_spans,
    n_removed_sentences, removed_fraction, clean_md5) with clean_md5 =
    md5 of the surviving sentences re-joined with newlines.

    Window identity is md5 over the literal span text; the gate oracle
    regroups by the LITERAL span string (definitionally independent —
    an md5 collision would hash-mismatch). Scale shape: spans explode
    in-row (narrow, <= span x sentences rows), keep-first is ONE
    groupBy-min + equi-join (the substring_dedup_rewrite shape),
    covered-sentence expansion is a bounded <= span-fold explode, and
    the rewrite is an in-row indexed filter per page — no window over
    the corpus, no driver step."""
    from audit_star_spark.plans.iterate import iter_materialize

    sents = sentence_split(pages, text_col)
    # materialize the span stream ONCE: the keep-first build side and
    # the probe side both read it, and without this the md5 span
    # explode (the profile's dominant phase) re-runs per consumer (r14)
    spans = iter_materialize(sentence_spans(sents, span), eager=False)
    # duplicated keys only on the build side (the
    # substring_removed_occurrences rationale): singleton spans can
    # never be removed, and the shrunken build side lets AQE broadcast
    # the keep-first join instead of reshuffling the span stream
    firsts = (
        spans.groupBy("key")
        .agg(F.min(F.struct("doc_id", "pos")).alias("o"),
             F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
        .drop("__n")
    )
    # materialized: the report reads `removed` twice (dup counts +
    # covered-index expansion) — without this the keep-first join runs
    # once per consumer; the frame is bounded by duplicated spans
    removed = iter_materialize(
        spans.join(firsts, "key")
        .filter(
            (F.col("doc_id") != F.col("o.doc_id"))
            | (F.col("pos") != F.col("o.pos"))
        )
        .select("doc_id", "pos"),
        eager=False,
    )
    return sentence_rewrite_report(sents, removed, span)


def sentence_split(pages: DataFrame, text_col: str = "page") -> DataFrame:
    """(doc_id, sents): newline-delimited sentence array per page —
    shared by the batch operator and the streaming store (one
    splitting code path, two execution modes)."""
    if not text_col.isidentifier():
        raise ValueError(f"text_col must be a plain identifier: {text_col!r}")
    return pages.select(
        "doc_id", F.expr(f"split({text_col}, '\\n')").alias("sents")
    )


def sentence_spans(sents: DataFrame, span: int) -> DataFrame:
    """(doc_id, pos, key) for every sliding ``span``-sentence window of
    ``sents(doc_id, sents)`` — md5 over the literal newline-joined span
    text; pages shorter than ``span`` yield no rows."""
    if span < 1:
        raise ValueError(f"span must be >= 1, got {span}")
    return (
        sents.filter(F.size("sents") >= span)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(sents) - {span}), "
                    f"i -> named_struct('pos', i, "
                    f"'key', md5(concat_ws('\\n', slice(sents, i + 1, {span})))))"
                )
            ).alias("w"),
        )
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.key").alias("key"))
    )


def sentence_rewrite_report(
    sents: DataFrame, removed: DataFrame, span: int
) -> DataFrame:
    """Per-page report from a removed-span stream (doc_id, pos) — the
    second half of sentence_span_dedup, shared with the streaming
    store: covered-sentence expansion (bounded <= span-fold explode),
    in-row indexed rewrite, md5 of the survivors."""
    n_dup = removed.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_spans")
    )
    rem_idx = (
        removed.select(
            "doc_id",
            F.explode(F.expr(f"sequence(pos, pos + {span} - 1)")).alias("idx"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list("idx")).alias("ridx"),
            F.count("*").cast("long").alias("n_removed_sentences"),
        )
    )
    return (
        sents.join(n_dup, "doc_id", "left")
        .join(rem_idx, "doc_id", "left")
        .select(
            "doc_id",
            F.size("sents").cast("long").alias("n_sentences"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("n_removed_sentences", F.lit(0)).alias(
                "n_removed_sentences"
            ),
            F.round(
                F.coalesce("n_removed_sentences", F.lit(0))
                / F.size("sents").cast("double"),
                6,
            ).alias("removed_fraction"),
            F.md5(
                F.when(
                    F.col("ridx").isNull(),
                    F.expr("concat_ws('\\n', sents)"),
                ).otherwise(
                    F.expr(
                        "concat_ws('\\n', filter(sents, "
                        "(s, i) -> NOT array_contains(ridx, i)))"
                    )
                )
            ).alias("clean_md5"),
        )
    )


def substring_dedup_rewrite(
    docs: DataFrame,
    k: int = 8,
    emit_text: bool = False,
    preserve_case: bool = False,
) -> DataFrame:
    """Exact-substring deduplication WITH REMOVAL — the suffix-array
    granularity of published training-data recipes (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    duplicated run of >= k tokens is cut out of all but one occurrence,
    and the document is REWRITTEN, not just scored. span_dedup_stats
    only reports on non-overlapping fixed spans; this operator matches
    OVERLAPPING k-token windows (so duplicated runs are caught at any
    alignment), merges adjacent duplicated windows into maximal spans
    in-row, and emits the cleaned text.

    Semantics (each step restated in the DuckDB oracle):
    - tokenize (TOKENS_EXPR), hash every overlapping k-token window
      (md5-prefix bigint, the engine-portable idiom);
    - a window OCCURRENCE (doc_id, pos) is removed iff it is not the
      globally-first occurrence of its hash (first = min (doc_id, pos)
      — keep-one, like dedup_keep_canonical, but per substring);
    - per doc, removed windows [pos, pos+k) merge into spans where
      consecutive positions are <= k apart (equal-length intervals, so
      a lag test is exact interval merging);
    - tokens inside any span are dropped; the rewrite is an in-row
      higher-order filter over (token, index) — no per-token rows ever
      materialize for the rewrite itself.

    Known artifact (documented, deterministic, shared by the oracle):
    inside periodic text ("a a a a ..."), every window after the first
    period duplicates an earlier one, so a self-repeating run collapses
    to its first PERIOD (one token for "a a a ...") rather than one
    full copy of the repeated unit — the same aggressive behavior as
    window-level ExactSubstr implementations.

    Scale shape: one corpus scan; windows explode narrowly (O(tokens)
    rows of 3 longs); the global first occurrence per hash is a
    GROUPBY-MIN (partial-aggregated map-side, so a viral boilerplate
    window collapses to one row per map task instead of melting a
    single window-sort task — the skew reason this is NOT a
    row_number window) followed by a hash-keyed join that AQE
    skew-splits; the surviving removed-occurrence stream (small for
    mostly-unique corpora) shuffles on doc_id for the span merge; the
    span list joins back on doc_id (AQE broadcasts when small). Never
    all-pairs, never a driver-side loop.

    ``preserve_case=True`` (the pipeline's rewrite path): windows are
    still MATCHED on the canonical tokens (lowercased, whitespace
    collapsed — case-insensitive duplicate detection), but the rewrite
    filters the ORIGINAL-case token stream, so surviving text keeps its
    casing. ``lower()`` never creates or removes whitespace, so the two
    token streams are index-aligned by construction. Whitespace is
    still trimmed and collapsed to single spaces by the token-level
    rejoin — the one normalization the token granularity inherently
    applies (documented in the pipeline CLI help)."""
    from audit_star_spark.plans.iterate import iter_materialize

    cols = ["doc_id", F.expr(TOKENS_EXPR).alias("toks")]
    if preserve_case:
        cols.append(F.expr(ORIG_TOKENS_EXPR).alias("orig"))
    base = docs.select(*cols)
    # materialize the window stream ONCE: the keep-first build side and
    # the probe side both read it — without this the md5 window explode
    # re-runs per consumer (the sentence_span_dedup rationale, r14)
    wins = iter_materialize(
        substring_windows(base.select("doc_id", "toks"), k), eager=False
    )
    removed = substring_removed_occurrences(wins)
    return substring_rewrite_report(base, removed, k, emit_text=emit_text)


# Case-preserving sibling of text.TOKENS_EXPR: identical trim/collapse/
# split, no lower() — index-aligned with the canonical stream because
# lowercasing is a per-character map that never touches whitespace.
ORIG_TOKENS_EXPR = "split(regexp_replace(trim(text), '\\\\s+', ' '), ' ')"


def suffix_dedup_rewrite(
    docs: DataFrame,
    min_len: int = 8,
    mode: str = "window",
    emit_text: bool = False,
    preserve_case: bool = False,
) -> DataFrame:
    """Suffix-RANK-driven exact-substring dedup with removal — the same
    semantics as :func:`substring_dedup_rewrite` (every duplicated run
    of >= min_len tokens cut from all but the globally-first
    occurrence, overlapping-window coverage merged to maximal spans),
    but window identity comes from the prefix-doubling suffix machinery
    (analytics/suffix.py suffix_window_keys) instead of per-window md5
    hashing:

    - COLLISION-FREE: two windows compare equal iff their tokens are
      equal (the md5-60-bit path has a ~2^-60 false-merge floor);
    - O(1) per window: the rank pair is two scalar lookups, where the
      hash path re-reads k tokens per position — at min_len = 50
      (the Lee et al. 2022 setting) that is 50x less hashing work on
      the corpus scan;
    - log2(min_len) doubling rounds, NOT log2(longest doc): the ladder
      stops at the first power of two >= the window (max_h).

    Output schema and values are IDENTICAL to substring_dedup_rewrite
    at the same k on any corpus without md5 collisions (test-locked),
    so the two are drop-in interchangeable; the suffix path is the one
    to prefer at large min_len. ``mode`` as in suffix_ranks
    ('distributed' = no single-partition rank anywhere)."""
    from audit_star_spark.analytics.suffix import suffix_window_keys
    from audit_star_spark.plans.iterate import iter_materialize

    cols = ["doc_id", F.expr(TOKENS_EXPR).alias("toks")]
    if preserve_case:
        cols.append(F.expr(ORIG_TOKENS_EXPR).alias("orig"))
    base = docs.select(*cols)
    # materialized: build + probe sides of the keep-first join both
    # read the window-key stream; recomputing it re-runs the final
    # ladder lead-window per consumer (r14)
    wins = iter_materialize(
        suffix_window_keys(docs, min_len, TOKENS_EXPR, mode), eager=False
    )
    # duplicated rank pairs only on the build side (the
    # substring_removed_occurrences rationale): a singleton window can
    # never be removed, and the shrunken build side lets AQE broadcast
    # the keep-first join instead of reshuffling the window stream
    firsts = (
        wins.groupBy("r1", "r2")
        .agg(F.min(F.struct("doc_id", "pos")).alias("o"),
             F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
        .drop("__n")
    )
    removed = (
        wins.join(firsts, ["r1", "r2"])
        .filter(
            (F.col("doc_id") != F.col("o.doc_id"))
            | (F.col("pos") != F.col("o.pos"))
        )
        .select("doc_id", "pos")
    )
    return substring_rewrite_report(base, removed, min_len, emit_text=emit_text)


def suffix_decontaminate_rewrite(
    docs: DataFrame,
    probes: DataFrame,
    min_len: int = 8,
    mode: str = "window",
    emit_text: bool = False,
) -> DataFrame:
    """Benchmark-span scrubbing with suffix-RANK window identity — the
    decontamination counterpart of :func:`suffix_dedup_rewrite`, same
    semantics as :func:`decontaminate_rewrite` (EVERY corpus occurrence
    of a >= min_len-token window appearing anywhere in the probe set is
    removed; no keep-first — the benchmark copy is canonical by
    definition) but collision-free and O(1) per window instead of md5
    hashing (the large-min_len argument of suffix_dedup_rewrite).

    Rank pairs are only comparable when corpus and probe text rank in
    ONE doubling run, so the ladder is built over the union; probe rows
    ride along under negated surrogate ids (-probe_id - 1), disjoint
    from the corpus's non-negative ids (validated with one bounded
    min() scalar). Membership is a (r1, r2)-keyed left-semi join — the
    probe side is tiny, AQE broadcasts it."""
    lo = (
        docs.select(F.min("doc_id").alias("lo"))
        .unionAll(probes.select(F.min("probe_id").alias("lo")))
        .agg(F.min("lo"))
        .collect()[0][0]
    )
    if lo is not None and lo < 0:
        raise ValueError(
            "doc_id/probe_id must be non-negative (probe rows ride the "
            f"union under negated surrogate ids); saw {lo}"
        )
    from audit_star_spark.analytics.suffix import suffix_window_keys
    from audit_star_spark.plans.iterate import iter_materialize

    base = docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
    combined = docs.select("doc_id", "text").unionByName(
        probes.select((-F.col("probe_id") - 1).alias("doc_id"), "text")
    )
    # materialized: probe-key extraction and the corpus semi-join both
    # read the window-key stream (the suffix_dedup_rewrite rationale)
    wins = iter_materialize(
        suffix_window_keys(combined, min_len, TOKENS_EXPR, mode), eager=False
    )
    probe_keys = (
        wins.filter(F.col("doc_id") < 0).select("r1", "r2").distinct()
    )
    removed = (
        wins.filter(F.col("doc_id") >= 0)
        .join(probe_keys, ["r1", "r2"], "left_semi")
        .select("doc_id", "pos")
    )
    return substring_rewrite_report(base, removed, min_len, emit_text=emit_text)


def substring_removed_occurrences(wins: DataFrame) -> DataFrame:
    """(doc_id, pos) of every window occurrence that is NOT the global
    first (min (doc_id, pos)) of its hash. groupBy-min + join, not a
    window rank: the aggregate partial-combines map-side and the join
    gets AQE skew handling, so a window hash shared by millions of
    documents cannot serialize onto one task."""
    # keep only DUPLICATED hashes on the build side: a hash with one
    # occurrence can never yield a removed row (its only occurrence IS
    # the first — the != filter dropped it anyway), so filtering on the
    # aggregate's count shrinks the join's build side from every
    # distinct window hash (corpus-sized) to just the duplicated ones
    # (small for a mostly-unique corpus) — AQE then broadcasts it and
    # the corpus-sized wins stream is never shuffled a second time
    # (guide §3.2's selective pre-filter, applied to the keep-first join)
    firsts = (
        wins.groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("o"),
             F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
        .drop("__n")
    )
    return (
        wins.join(firsts, "h")
        .filter(
            (F.col("doc_id") != F.col("o.doc_id"))
            | (F.col("pos") != F.col("o.pos"))
        )
        .select("doc_id", "pos")
    )


def substring_windows(base: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, h) for every overlapping k-token window of
    ``base(doc_id, toks)`` — the md5-prefix bigint idiom; docs shorter
    than k yield no rows. Shared by the batch operator and the
    streaming store (one hashing code path, two execution modes)."""
    win_expr = (
        f"transform(sequence(0, size(toks) - {k}), "
        f"i -> named_struct('pos', i, 'h', "
        f"CAST(conv(substring(md5(array_join(slice(toks, i + 1, {k}), ' ')), "
        f"1, 15), 16, 10) AS BIGINT)))"
    )
    return (
        base.filter(F.size("toks") >= k)
        .select("doc_id", F.explode(F.expr(win_expr)).alias("w"))
        .select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    )


def substring_rewrite_report(
    base: DataFrame, removed: DataFrame, k: int, emit_text: bool = False
) -> DataFrame:
    """Span merge + rewrite + per-doc report from a removed-occurrence
    stream (doc_id, pos) — the second half of substring_dedup_rewrite,
    shared with the streaming store. ``emit_text`` appends the REWRITTEN
    text itself as ``clean_text`` (the pipeline consumer; the gate keeps
    only the bounded md5). If ``base`` carries an ``orig`` column
    (case-preserved tokens, index-aligned with ``toks``), the rewrite —
    and clean_md5/clean_text — filter THAT stream instead, so matching
    stays canonical while output keeps original casing."""
    rewrite_col = "orig" if "orig" in base.columns else "toks"
    w_d = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        removed.withColumn("prev", F.lag("pos").over(w_d))
        .withColumn(
            "new_span",
            (F.col("prev").isNull() | (F.col("pos") > F.col("prev") + k)).cast(
                "long"
            ),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(
                w_d.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "span_id")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k).alias("e"))
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("n_removed_tokens"),
        F.collect_list(F.struct("s", "e")).alias("spans"),
    )
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("n_removed_tokens", F.lit(0))
            .cast("long")
            .alias("n_removed_tokens"),
            F.expr(
                f"CASE WHEN spans IS NULL THEN {rewrite_col} ELSE "
                f"filter({rewrite_col}, (t, i) -> "
                "NOT exists(spans, sp -> i >= sp.s AND i < sp.e)) END"
            ).alias("clean"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_spans",
            "n_removed_tokens",
            F.round(F.col("n_removed_tokens") / F.col("n_tokens"), 6).alias(
                "removed_fraction"
            ),
            F.md5(F.array_join("clean", " ")).alias("clean_md5"),
            *(
                [F.array_join("clean", " ").alias("clean_text")]
                if emit_text
                else []
            ),
        )
    )


def dedup_keep_canonical(docs: DataFrame) -> DataFrame:
    """End-to-end dedup pipeline report: near-dup pairs (n-gram Jaccard)
    -> connected components -> keep ONE canonical document per cluster
    (the minimum doc_id, which IS the cluster id by construction) -> per
    source, how many documents survive. This is the operator a corpus
    build actually runs — find near-dups is diagnosis; dropping all but
    one per cluster is the treatment.

    Scale shape: the drop set is (cluster members - canonicals), bounded
    by candidate-pair membership, never corpus-sized for a mostly-unique
    corpus; it joins back on the doc_id key (AQE picks broadcast when it
    is small). Documents in no pair never enter the cluster frame and
    survive by default."""
    pairs = ngram_jaccard_pairs(docs)
    clusters = dedup_clusters(pairs)
    drop = (
        clusters.filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id", F.lit(1).alias("__dropped"))
    )
    tagged = docs.select("doc_id", "source").join(drop, "doc_id", "left")
    return tagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count("__dropped").cast("long").alias("n_dropped"),
        (F.count("*") - F.count("__dropped")).cast("long").alias("n_kept"),
    )


def _band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) per non-NULL band key of ``sig``, exploded in
    one projection (a chained unionByName would re-analyze sig per band)."""
    rows = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("key"))
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.inline(rows)).filter(F.col("key").isNotNull())


def cross_corpus_near_dups(
    corpus_a: DataFrame, corpus_b: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """A x B near-duplicate pairs between TWO corpora — the
    contamination / incremental-crawl shape: compare today's arrivals (B)
    against the standing corpus (A) without ever self-joining either
    side. Candidates are band-bucket collisions of A-buckets vs
    B-buckets only (an equi join keyed on (band, key), linear in bucket
    co-membership), verified with exact Jaccard over distinct shingle
    hashes exactly like the self-join operator. Returns
    (doc_a from A, doc_b from B, jaccard >= threshold); doc_id spaces
    may overlap freely since the sides are never mixed."""
    # lazy localCheckpoint (not persist): each side is read twice (bands
    # + verification sets), materialized once on the first action — NOT
    # at construction time; checkpointed blocks release when the frames
    # go out of scope instead of leaking into the session cache
    sig_a = minhash_signatures(corpus_a).localCheckpoint(eager=False)
    sig_b = minhash_signatures(corpus_b).localCheckpoint(eager=False)
    cand = (
        _band_buckets(sig_a)
        .alias("a")
        .join(
            _band_buckets(sig_b).alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets_a = sig_a.select(
        F.col("doc_id").alias("doc_a"), F.array_distinct("shash").alias("set_a")
    )
    sets_b = sig_b.select(
        F.col("doc_id").alias("doc_b"), F.array_distinct("shash").alias("set_b")
    )
    j = cand.join(sets_a, "doc_a").join(sets_b, "doc_b")
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return j.select(
        "doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def split_leakage_report(docs: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Near-dup leakage across train/val/test splits: pairs of
    near-duplicate documents whose members land in DIFFERENT splits are
    exactly the contamination that silently inflates held-out metrics.
    Per ordered split pair (train < val < test lexically normalized),
    the count of cross-split near-dup pairs, plus each split's total
    pair involvement.

    Composes the deterministic hash split (content-independent, so the
    report is stable across rebuilds) with the LSH near-dup pairs —
    pair discovery is the dominant cost, the split join adds two
    broadcast-sized probes on the doc_id key."""
    from audit_star_spark.analytics.text import with_split

    splits = with_split(docs.select("doc_id")).select("doc_id", "split")
    pairs = minhash_lsh_pairs(docs, threshold=threshold)
    j = (
        pairs.join(
            splits.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "split", "split_a"
            ),
            "doc_a",
        )
        .join(
            splits.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "split", "split_b"
            ),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    lo = F.least("split_a", "split_b")
    hi = F.greatest("split_a", "split_b")
    return (
        j.select(lo.alias("split_lo"), hi.alias("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(F.count("*").cast("long").alias("n_leaky_pairs"))
    )


def string_subst_pairs(
    df: DataFrame,
    col: str,
    max_subs: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-recall near-pairs under substitution (per-position Hamming)
    distance for equal-length strings — titles, normalized URLs, IDs:
    the PassJoin idea restricted to the substitution-only case, where
    segment blocking is exactly the :func:`hamming_bands` pigeonhole on
    characters instead of bits.

    Each string splits into ``max_subs + 1`` contiguous segments (by
    proportional position, so the scheme is consistent per length); two
    strings within ``max_subs`` substitutions differ in at most
    ``max_subs`` segments and therefore agree EXACTLY on >= 1 — blocking
    on (segment index, length, segment text) has 100% recall with no
    all-pairs product. Verification is the per-position mismatch count
    (in-row zip of the char arrays). DISTINCT folds multi-segment
    collisions. Unequal-length pairs are out of scope by definition
    (a substitution preserves length).

    Short strings (``slen < max_subs + 1``) cannot host one non-empty
    segment per allowed substitution, so the proportional split would
    emit zero-width segments whose empty ``seg_text`` degenerates into a
    constant blocking key (every same-length short string colliding, each
    pair generated once per empty segment and re-folded by DISTINCT).
    They take a direct length-keyed path instead: any two equal-length
    strings with ``slen <= max_subs`` are within ``max_subs``
    substitutions by definition, so the length class IS the exact result
    set — each pair is emitted exactly once, with no segment explosion
    and no DISTINCT shuffle.

    Returns (id_a, id_b, distance), id_a < id_b.
    """
    if max_subs < 0:
        raise ValueError(f"max_subs must be >= 0, got {max_subs}")
    n = max_subs + 1
    staged = df.select(
        F.col(id_col).alias("sid"),
        F.col(col).alias("s"),
        F.length(col).alias("slen"),
    ).filter(F.col("slen") > 0)
    seg_val = (
        "substring(s, CAST(seg * slen / {n} AS INT) + 1, "
        "CAST((seg + 1) * slen / {n} AS INT) - CAST(seg * slen / {n} AS INT))"
    ).format(n=n)
    segs = staged.filter(F.col("slen") >= n).select(
        "sid",
        "s",
        "slen",
        F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("seg"),
    ).select("sid", "s", "slen", "seg", F.expr(seg_val).alias("seg_text"))
    a, b = segs.alias("a"), segs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.slen") == F.col("b.slen"))
            & (F.col("a.seg_text") == F.col("b.seg_text"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(
            F.col("a.sid").alias("id_a"),
            F.col("b.sid").alias("id_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
        )
        .distinct()
    )
    short = staged.filter(F.col("slen") < n)
    sa, sb = short.alias("a"), short.alias("b")
    short_cand = sa.join(
        sb,
        (F.col("a.slen") == F.col("b.slen")) & (F.col("a.sid") < F.col("b.sid")),
    ).select(
        F.col("a.sid").alias("id_a"),
        F.col("b.sid").alias("id_b"),
        F.col("a.s").alias("s_a"),
        F.col("b.s").alias("s_b"),
    )
    dist = F.expr(
        "size(filter(zip_with(split(s_a, ''), split(s_b, ''), "
        "(x, y) -> x <> y), v -> v))"
    )
    return (
        cand.unionByName(short_cand)
        .withColumn("distance", dist)
        .filter(F.col("distance") <= max_subs)
        .select("id_a", "id_b", "distance")
    )


def decontaminate_rewrite(
    docs: DataFrame, probes: DataFrame, k: int = 8, emit_text: bool = False
) -> DataFrame:
    """Benchmark-span SCRUBBING — the removal counterpart of
    decontam.contamination (which only flags): every corpus occurrence
    of a k-token window that appears ANYWHERE in the probe (benchmark)
    set is cut out and the document rewritten — the GPT-3-style n-gram
    decontamination applied as surgery instead of document drops, via
    the exact-substring span machinery (windows -> span merge ->
    indexed rewrite).

    Unlike substring_dedup_rewrite there is no keep-first: EVERY
    matching corpus occurrence is removed (the benchmark copy is the
    canonical one by definition). Probe windows are typically a tiny
    fraction of the corpus: the membership test is one hash-keyed
    left-semi join (AQE broadcasts the probe side when it fits).

    Returns the substring_rewrite_report schema over ``docs``."""
    base = docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
    probe_base = probes.select(
        F.col("probe_id").alias("doc_id"), F.expr(TOKENS_EXPR).alias("toks")
    )
    probe_h = substring_windows(probe_base, k).select("h").distinct()
    removed = (
        substring_windows(base, k)
        .join(probe_h, "h", "left_semi")
        .select("doc_id", "pos")
    )
    return substring_rewrite_report(base, removed, k, emit_text=emit_text)
