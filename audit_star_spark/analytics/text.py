"""Text-analysis operators over the ``documents`` table (north-star layer,
BASELINE.json:6): tokenization, quality scoring, language-ID heuristic,
BPE-style token estimation, polynomial document fingerprinting.

Everything is built-in expression algebra (split / transform / aggregate /
regexp) — JVM-side, codegen-friendly, no Python UDFs. Deterministic
integer hashing uses md5-hex prefixes (identical in any engine): a token's
60-bit hash is ``int(md5(tok)[:15], 16)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from audit_star_spark.util import spread

STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "on", "for"]
# tiny marker lexicons for the language-ID heuristic (deterministic, not a
# model): per-language stopword hits decide the prediction
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "de": ["der", "die", "das", "und"],
    "es": ["el", "la", "los", "que"],
    "fr": ["le", "les", "des", "et"],
}

FP_PRIME = 999_999_999_999_989  # largest prime < 1e15; keeps 31*h in int64

TOKENS_EXPR = "split(regexp_replace(trim(lower(text)), '\\\\s+', ' '), ' ')"
TOK_HASHES_EXPR = (
    f"transform({TOKENS_EXPR}, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
)


def _nfc_pairs() -> list[tuple[str, str]]:
    """Composition pairs (two-codepoint combining sequence -> precomposed
    char) for ASCII bases x the common Latin combining marks, derived at
    import time from the stdlib Unicode tables (unicodedata.normalize),
    not transcribed. Spark SQL has no built-in NFC function, so the
    engine applies this enumerated chain; the DuckDB oracle mirrors the
    SAME chain (not full nfc_normalize) so both engines compute the
    identical, documented function."""
    import unicodedata

    # grave, acute, circumflex, tilde, diaeresis, ring, cedilla
    marks = ["\u0300", "\u0301", "\u0302", "\u0303", "\u0308", "\u030a", "\u0327"]
    pairs = []
    for base in "AEIOUNCYaeiouncy":
        for mark in marks:
            comp = unicodedata.normalize("NFC", base + mark)
            if len(comp) == 1:
                pairs.append((base + mark, comp))
    return pairs


NFC_PAIRS = _nfc_pairs()


def nfc_lite_sql(col_sql: str) -> str:
    """Nested replace() chain applying NFC_PAIRS — valid in both Spark
    SQL and DuckDB (neither sequence contains quotes or backslashes)."""
    out = col_sql
    for dec, comp in NFC_PAIRS:
        out = f"replace({out}, '{dec}', '{comp}')"
    return out


# Opt-in Unicode-aware tokenizer (the default TOKENS_EXPR is whitespace
# split of lower(text), which every text operator inherits): NFC-lite
# composition, Unicode lower(), then punctuation-aware extraction of
# letter/digit runs. \p{L}\p{N} are supported by both Java regex (Spark)
# and RE2 (DuckDB).
TOKENS_EXPR_UNICODE = (
    f"regexp_extract_all(lower({nfc_lite_sql('text')}), '[\\\\p{{L}}\\\\p{{N}}]+', 0)"
)


def _stopword_pattern(words: list[str]) -> str:
    # doubled backslashes: these patterns are embedded in F.expr SQL string
    # literals, where '\b' would parse as backspace (unlike DuckDB)
    return r"\\b(" + "|".join(words) + r")\\b"


def with_text_stats(docs: DataFrame, tokens_expr: str = TOKENS_EXPR) -> DataFrame:
    """Per-document stats: chars, tokens, punctuation, stopword ratio,
    average token length, a BPE-ish token estimate, and a quality score.
    ``tokens_expr=TOKENS_EXPR_UNICODE`` opts into the Unicode-aware
    tokenizer (NFC-lite + punctuation-aware splitting)."""
    toks = F.expr(tokens_expr)
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[\.,;:!\?]", ""))
    tok_chars = F.expr(f"aggregate({tokens_expr}, 0, (a, t) -> a + length(t))")
    n_stop = F.size(
        F.expr(f"regexp_extract_all(lower(text), '{_stopword_pattern(STOPWORDS)}', 0)")
    )
    avg_token_len = tok_chars.cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    punct_ratio = n_punct.cast("double") / n_chars
    est_bpe = F.greatest(n_tokens.cast("long"), F.ceil(n_chars / F.lit(4.0)))
    # quality: long-enough docs with typical stopword density and low
    # punctuation noise score higher (same op order on both engines)
    quality = (
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        * (F.lit(1.0) - punct_ratio)
        * (F.lit(0.5) + stop_ratio)
    )
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        n_stop.cast("long").alias("n_stopwords"),
        avg_token_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        est_bpe.alias("est_bpe_tokens"),
        quality.alias("quality_score"),
    )


def with_lang_id(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: argmax of per-language marker-word hits with
    a deterministic preference order on ties."""
    hits = {
        lang: F.size(
            F.expr(
                f"regexp_extract_all(lower(text), '{_stopword_pattern(words)}', 0)"
            )
        )
        for lang, words in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    best = F.lit(langs[0])
    best_hits = hits[langs[0]]
    for lang in langs[1:]:
        cond = hits[lang] > best_hits
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_hits = F.when(cond, hits[lang]).otherwise(best_hits)
    pred = F.when(best_hits > 0, best).otherwise(F.lit("unknown"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[hits[lang].cast("long").alias(f"hits_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def with_fingerprint(docs: DataFrame) -> DataFrame:
    """Order-sensitive polynomial rolling hash over token hashes:
    h = fold(tokens, 0, (h, t) -> (h*31 + hash60(t)) % FP_PRIME).
    Equal fingerprints == equal token sequences (mod collisions), robust
    to whitespace differences — the document-identity primitive."""
    fp = F.expr(
        f"aggregate({TOK_HASHES_EXPR}, CAST(0 AS BIGINT), "
        f"(h, t) -> (h * 31 + t % {FP_PRIME}) % {FP_PRIME})"
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


def token_topk(
    docs: DataFrame, k: int = 500, tokens_expr: str = TOKENS_EXPR
) -> DataFrame:
    """Global token vocabulary: top-k tokens by corpus frequency with a
    deterministic tie-break — the vocabulary-induction primitive of a
    tokenizer-training pipeline.

    Scale shape: explode -> hash aggregate (map-side partial combine
    collapses each partition's token stream to its local vocabulary
    before the shuffle, so shuffle volume is bounded by distinct tokens
    per partition, not corpus token count) -> TakeOrderedAndProject."""
    toks = docs.select(F.explode(F.expr(tokens_expr)).alias("token")).filter(
        F.length("token") > 0
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(k)
    )


def with_split(docs: DataFrame, weights: tuple[int, int, int] = (80, 10, 10)) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = 60-bit md5 of the
    doc_id modulo 100, split by cumulative weight. Content-independent and
    stable across runs/engines — the property a pretraining corpus needs so
    held-out documents NEVER migrate into train when the corpus is re-built
    (a random() split resamples on every run; a hash split does not)."""
    train_w, val_w, _ = weights
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"
    )
    return docs.withColumn(
        "split",
        F.when(bucket < train_w, F.lit("train"))
        .when(bucket < train_w + val_w, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def stratified_sample(docs: DataFrame, rates: dict[str, int], default_pct: int = 0) -> DataFrame:
    """Deterministic per-language downsampling — the corpus-mixing
    primitive (e.g. keep 100% of low-resource languages, 20% of English).
    ``rates`` maps lang -> keep percentage [0, 100]; unlisted languages
    keep ``default_pct``. The keep decision hashes doc_id through the same
    60-bit md5 bucket as ``with_split``, so the sample is stable across
    runs/engines AND independent of the split assignment only in so far as
    both are pure functions of doc_id — re-mixing never resamples
    previously-kept documents at the same or higher rate (a doc kept at
    20% stays kept at 30%: buckets are nested by construction)."""
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING) || ':mix'), 1, 15), 16, 10) AS BIGINT) % 100"
    )
    keep_pct = F.lit(default_pct)
    for lang, pct in sorted(rates.items()):
        keep_pct = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(keep_pct)
    return docs.withColumn("__bucket", bucket).filter(
        F.col("__bucket") < keep_pct
    ).drop("__bucket")


def weighted_sample(
    docs: DataFrame,
    weight: "F.Column | str",
    k: int,
    salt: str = "ws",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis 2006): each row draws a reproducible uniform
    u in (0,1) from the md5 of its id (the same 60-bit bucket family as
    :func:`with_split` — engine-independent, re-runnable) and the sample
    is the top-k rows by key = u^(1/w), which is distributed exactly as
    weighted sampling without replacement. The top-k compiles to
    TakeOrderedAndProject — no global sort, only k rows per partition
    survive the exchange, so the shape holds at any corpus size.

    Rows with weight <= 0 or NULL can never be sampled. Ties cannot occur
    for distinct ids (md5 injective on the id strings in practice);
    ordering falls back to id for full determinism anyway.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = F.col(weight) if isinstance(weight, str) else weight
    # 60-bit md5 bucket -> u in (0, 1); +1 in the numerator keeps u > 0
    u = F.expr(
        f"(CAST(conv(substring(md5(CAST({id_col} AS STRING) || ':{salt}'), 1, 15), "
        "16, 10) AS DOUBLE) + 1.0) / 1152921504606846977.0"
    )
    key = F.when(
        w.isNotNull() & (w > 0), F.pow(u, F.lit(1.0) / w.cast("double"))
    )
    return (
        docs.withColumn("__ws_key", key)
        .filter(F.col("__ws_key").isNotNull())
        .orderBy(F.col("__ws_key").desc(), F.col(id_col))
        .limit(k)
        .drop("__ws_key")
    )


def weighted_sample_per_group(
    docs: DataFrame,
    group_col: str,
    weight: "F.Column | str",
    k: int,
    salt: str = "ws",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group weighted sampling without replacement: the top-``k``
    Efraimidis-Spirakis keys WITHIN each group — e.g. k docs per source,
    length-weighted. Same deterministic md5 key family as
    :func:`weighted_sample`; one group-keyed window (rank, not a global
    sort), so the shape is a single exchange on the group column."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    w = F.col(weight) if isinstance(weight, str) else weight
    u = F.expr(
        f"(CAST(conv(substring(md5(CAST({id_col} AS STRING) || ':{salt}'), 1, 15), "
        "16, 10) AS DOUBLE) + 1.0) / 1152921504606846977.0"
    )
    key = F.when(
        w.isNotNull() & (w > 0), F.pow(u, F.lit(1.0) / w.cast("double"))
    )
    win = Window.partitionBy(group_col).orderBy(
        F.col("__ws_key").desc(), F.col(id_col)
    )
    return (
        docs.withColumn("__ws_key", key)
        .filter(F.col("__ws_key").isNotNull())
        .withColumn("__ws_rn", F.row_number().over(win))
        .filter(F.col("__ws_rn") <= k)
        .drop("__ws_key", "__ws_rn")
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 8
) -> DataFrame:
    """Sliding-window chunking: split each document into training-context
    chunks of ``chunk_tokens`` tokens with ``overlap`` tokens carried
    between neighbors (the pretraining / RAG context-window primitive).

    Chunk c starts at token c*(chunk-overlap); the last chunk is short
    rather than padded; a doc shorter than one chunk yields exactly one
    chunk. Pure in-row transform + explode — the 1:N shape runs narrow
    (no shuffle), so it scales with the scan."""
    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("chunk_tokens must exceed overlap")
    staged = docs.select("doc_id", F.expr(TOKENS_EXPR).alias("__t")).select(
        "doc_id",
        "__t",
        F.expr(
            f"greatest(1, (size(__t) - {overlap} + {step} - 1) div {step})"
        ).alias("__nc"),
    )
    return staged.select(
        "doc_id",
        F.explode(F.expr("sequence(0, __nc - 1)")).alias("chunk_id"),
        "__t",
    ).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.expr(
            f"least({chunk_tokens}, size(__t) - chunk_id * {step})"
        ).cast("long").alias("n_chunk_tokens"),
        F.expr(
            f"array_join(slice(__t, chunk_id * {step} + 1, "
            f"least({chunk_tokens}, size(__t) - chunk_id * {step})), ' ')"
        ).alias("chunk_text"),
    )


def sequence_packing(docs: DataFrame, budget_tokens: int = 256) -> DataFrame:
    """Sequential sequence-packing layout: within each train/val/test
    split (deterministic hash buckets, ``with_split``), documents are
    laid end-to-end in doc_id order and assigned to fixed-budget packs —
    pack_id = floor(preceding-token-sum / budget). This is how a
    pretraining loader turns a corpus into fixed-length batches; the
    sequential (not bin-packing) policy is deliberate: it is
    deterministic, order-stable across engines, and one window over a
    single split-keyed shuffle, where first-fit-decreasing would need an
    iterative global state.

    Output: (doc_id, split, est_bpe_tokens, pack_id, pack_offset) with
    pack_offset = token offset of this document inside its pack's
    running stream (documents may straddle pack boundaries; the loader
    slices them — same semantics as GPT-style token streams)."""
    from pyspark.sql import Window

    split_docs = with_split(docs)
    est = F.greatest(
        F.size(F.expr(TOKENS_EXPR)).cast("long"),
        F.ceil(F.length("text") / F.lit(4.0)),
    )
    staged = split_docs.select("doc_id", "split", est.alias("est_bpe_tokens"))
    w = (
        Window.partitionBy("split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("est_bpe_tokens").over(w), F.lit(0))
    return staged.select(
        "doc_id",
        "split",
        "est_bpe_tokens",
        (prev / budget_tokens).cast("long").alias("pack_id"),
        (prev % budget_tokens).cast("long").alias("pack_offset"),
    )


def source_tfidf_topk(
    docs: DataFrame, k: int = 5, tokens_expr: str = TOKENS_EXPR
) -> DataFrame:
    """Per-source distinctive vocabulary: top-``k`` terms per source by
    smoothed TF-IDF (tf × (ln((1+N)/(1+df)) + 1), N = number of sources,
    df = number of sources containing the term) — the corpus-mixture
    diagnostic that tells you WHAT each slice of a web-scale corpus is
    actually about before weighting it.

    Scale shape: one (source, term)-keyed hash aggregate with map-side
    combine over the exploded token stream (the only corpus-sized
    exchange); df and N derive from that aggregate, which is
    vocab × sources sized — small — so the df join broadcasts and the
    top-k window runs on the small side too. Ties break by term for
    cross-engine determinism; the score is rounded to 9 decimals so the
    last-ulp ln() difference between libm and the JVM cannot flip a
    hash comparison."""
    toks = docs.select(
        F.col("source"), F.explode(F.expr(tokens_expr)).alias("term")
    )
    tf = toks.groupBy("source", "term").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_sources = docs.select("source").distinct().count()  # bounded scalar
    scored = tf.join(F.broadcast(df_counts), "term").select(
        "source",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * (F.log((1.0 + n_sources) / (1.0 + F.col("df"))) + F.lit(1.0)),
            9,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("source", "rank", "term", "tf", "df", "tfidf")
    )


def vocab_coverage(
    docs: DataFrame, vocab_k: int = 100, tokens_expr: str = TOKENS_EXPR
) -> DataFrame:
    """Vocabulary-coverage / OOV report: induce the top-``vocab_k``
    vocabulary on the corpus, then per (source, lang) report total token
    occurrences, how many fall outside the vocabulary, and the OOV rate
    — the number that sizes a tokenizer's vocab before training.

    Scale shape: the vocabulary is a bounded top-k (broadcast to the
    anti-join side); the token stream aggregates per (source, lang) with
    map-side combine — one corpus-sized explode, one small shuffle, no
    per-token join fan-out (membership is a broadcast hash lookup)."""
    # vocabulary induction uses the SAME tokenizer as the coverage count
    # (an opt-in Unicode tokenizer with a default-tokenized vocab would
    # report phantom OOV)
    vocab = token_topk(docs, k=vocab_k, tokens_expr=tokens_expr).select("token")
    toks = spread(docs).select(
        "source", "lang", F.explode(F.expr(tokens_expr)).alias("token")
    ).filter(F.length("token") > 0)
    tagged = toks.join(
        F.broadcast(vocab.withColumn("__in_vocab", F.lit(1))), "token", "left"
    )
    return tagged.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.count(F.when(F.col("__in_vocab").isNull(), 1))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.count(F.when(F.col("__in_vocab").isNull(), 1)).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("oov_rate"),
    )


# deterministic non-ASCII augmentation for the Unicode-tokenizer gate:
# mixed decomposed/precomposed forms plus punctuation the whitespace
# tokenizer would glue onto tokens (the corpus itself is pure ASCII)
UNICODE_SUFFIX = (
    " Cafe\u0301, CAFE\u0301; caf\u00e9 \u2014 u\u0308ber \u00dcber nai\u0308ve end."
)


def unicode_token_stats(docs: DataFrame) -> DataFrame:
    """Unicode-tokenizer report over a deterministically augmented corpus:
    per document, token count, distinct-token count, and how many tokens
    normalize to 'caf\u00e9' / '\u00fcber'. All three decomposed/precomposed/cased
    forms of each must collapse to ONE distinct token (n_cafe = 3,
    n_uber = 2 in every row) — that is the NFC + Unicode-lower +
    punctuation-splitting contract, checked value-exactly against the
    DuckDB mirror of the same replace chain."""
    aug = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(UNICODE_SUFFIX)).alias("text")
    )
    # every statistic is per-document over the in-row token array, so
    # compute them IN-ROW: no explode of the corpus into token rows and
    # no doc-keyed exchange for the groupBy/countDistinct \u2014 the query is
    # one zero-shuffle projection (r14). The size(toks) > 0 filter
    # mirrors the explode/unnest semantics both engines had (a tokenless
    # doc emits no row); the appended suffix makes it vacuous here.
    toks = aug.select(
        "doc_id", F.expr(TOKENS_EXPR_UNICODE).alias("toks")
    ).filter(F.size("toks") > 0)
    return toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        F.size(F.expr("filter(toks, x -> x = 'caf\u00e9')")).cast("long").alias("n_cafe"),
        F.size(F.expr("filter(toks, x -> x = '\u00fcber')")).cast("long").alias("n_uber"),
    )


# Unicode-script profiling: (java regex class, RE2/DuckDB class) pairs —
# Java spells scripts \p{IsLatin}, RE2 spells them \p{Latin}; the oracle
# generator uses the second column so the two dialects stay aligned.
SCRIPT_CLASSES = [
    ("latin", "IsLatin", "Latin"),
    ("cyrillic", "IsCyrillic", "Cyrillic"),
    ("han", "IsHan", "Han"),
]


def script_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode-script census: how many characters belong to
    each script, plus the dominant script (deterministic preference order
    on ties) — the script-mix signal a multilingual corpus router uses
    before language ID. Pure JVM regex algebra, zero shuffles."""
    counts = {
        name: F.length(
            F.regexp_replace(F.col(text_col), rf"[^\p{{{java}}}]", "")
        ).cast("long")
        for name, java, _ in SCRIPT_CLASSES
    }
    names = [n for n, _, _ in SCRIPT_CLASSES]
    best, best_n = F.lit(names[0]), counts[names[0]]
    for n in names[1:]:
        cond = counts[n] > best_n
        best = F.when(cond, F.lit(n)).otherwise(best)
        best_n = F.when(cond, counts[n]).otherwise(best_n)
    dominant = F.when(best_n > 0, best).otherwise(F.lit("none"))
    return docs.select(
        "doc_id",
        *[counts[n].alias(f"n_{n}") for n in names],
        dominant.alias("dominant_script"),
    )


def _mix_rates(docs: DataFrame, weights: dict[str, float]) -> DataFrame:
    """(source, n, rate): downsample-only keep rates reaching the target
    weight proportions; the binding source's rate is exactly 1.0. Two
    windows over the |sources|-sized counts frame, no driver collect."""
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    w_expr = F.lit(1.0)
    for src, w in sorted(weights.items()):
        w_expr = F.when(F.col("source") == src, F.lit(float(w))).otherwise(w_expr)
    t = counts.select(
        "source",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(Window.partitionBy())).alias(
            "share"
        ),
        w_expr.alias("w"),
    )
    r0 = t.select(
        "source",
        "n",
        ((F.col("w") / F.sum("w").over(Window.partitionBy())) / F.col("share")).alias(
            "raw_rate"
        ),
    )
    return r0.select(
        "source",
        "n",
        (F.col("raw_rate") / F.max("raw_rate").over(Window.partitionBy())).alias(
            "rate"
        ),
    )


# doc_id hash bucket for the deterministic keep filter (built lazily:
# F.expr needs an active session, and this module imports session-free)
_MIX_BUCKET_SQL = (
    "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 1000000"
)


def apply_mix(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    rates: DataFrame | None = None,
) -> DataFrame:
    """The sampled corpus itself: keep each document iff its
    deterministic doc_id hash falls under its source's keep rate —
    stable across rebuilds, broadcast rate probe, no shuffle of docs.
    Pass a precomputed ``rates`` frame to avoid re-deriving it (and
    re-scanning docs) when the caller already has one."""
    weights = weights or {}
    if rates is None:
        rates = _mix_rates(docs, weights)
    rates = rates.select("source", "rate")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(
            F.expr(_MIX_BUCKET_SQL) < F.round(F.col("rate") * 1_000_000).cast("long")
        )
        .drop("rate")
    )


def resample_to_mix(docs: DataFrame, weights: dict[str, float] | None = None) -> DataFrame:
    """Downsample-only corpus mixing REPORT: given per-source target
    WEIGHTS (unnormalized; unlisted sources default to 1.0), the keep
    rate that reaches the target proportions without upsampling and the
    resulting kept counts. See :func:`apply_mix` for the sampled corpus.
    Returns per source: n_docs, rate (9 dp), n_kept."""
    weights = weights or {}
    r = _mix_rates(docs, weights)
    kept = (
        apply_mix(docs.select("doc_id", "source"), weights, rates=r)
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        r.join(kept, "source", "left")
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            F.round("rate", 9).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def length_bucketed_batches(
    docs: DataFrame, batch_size: int = 8, tokens_expr: str = TOKENS_EXPR
) -> DataFrame:
    """Length-bucketed batching layout — the data-loader trick that cuts
    padding waste: sort documents by token length (doc_id tie-break),
    cut the sorted order into fixed-size batches, and pad every batch
    member to ITS batch's max length instead of the corpus max. Returns
    one row per batch:

        (batch_id, n_docs, batch_max_tokens, batch_tokens,
         padded_tokens, padding_frac)

    where padding_frac = 1 - batch_tokens / (n_docs * batch_max) — the
    fraction of compute a static-shape trainer would burn on pad tokens
    for that batch (the corpus-level average is what the layout
    optimizes; compare against a single global bucket to see the win).

    Scale shape: the global rank comes from :func:`~audit_star_spark.
    operators.ids.gapless_ids` — a range-partitioned sort on
    (n_tokens, doc_id), per-partition local indexes, and cumulative
    offsets looked up by partition id in one array literal (from a
    bounded num_partitions-row collect). No
    partition-less ``row_number`` window, so no Exchange
    SinglePartition: every stage stays as parallel as the sort.
    Deterministic across engines and cluster sizes: lengths are exact
    ints and the (n_tokens, doc_id) order is total, so the ranks equal
    ``row_number() over (order by n_tokens, doc_id)`` exactly."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    from audit_star_spark.operators.ids import gapless_ids

    lens = docs.select(
        "doc_id", F.size(F.expr(tokens_expr)).cast("long").alias("n_tokens")
    )
    ranked = gapless_ids(
        lens, ["n_tokens", "doc_id"], id_col="__rank", start=0
    )
    batched = ranked.withColumn(
        "batch_id", (F.col("__rank") / batch_size).cast("long")
    ).drop("__rank")
    agg = batched.groupBy("batch_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("n_tokens").alias("batch_max_tokens"),
        F.sum("n_tokens").alias("batch_tokens"),
    )
    padded = (F.col("n_docs") * F.col("batch_max_tokens")).cast("long")
    return agg.select(
        "batch_id",
        "n_docs",
        "batch_max_tokens",
        "batch_tokens",
        (padded - F.col("batch_tokens")).alias("padded_tokens"),
        F.round(
            F.lit(1.0) - F.col("batch_tokens") / padded.cast("double"), 9
        ).alias("padding_frac"),
    )


def alpha_mix_report(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Temperature / alpha-sampling report (Conneau & Lample 2019 — the
    multilingual-pretraining rebalance): target proportions
    p_s ∝ share_s^alpha, alpha in (0, 1] boosting low-resource sources
    toward uniform, applied with the SAME downsample-only deterministic
    hash filter as :func:`apply_mix` (the binding source keeps 100%).
    alpha = 1 is the identity mix (every rate 1.0).

    Returns per source: n_docs, share (9 dp), rate (9 dp), n_kept. The
    rate chain runs as two windows over the |sources|-sized counts
    frame — no driver collect, no shuffle of the corpus; the keep
    filter broadcasts the rate table."""
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    t = counts.select(
        "source",
        "n",
        (
            F.col("n").cast("double") / F.sum("n").over(Window.partitionBy())
        ).alias("share"),
    ).select(
        "source", "n", "share", F.pow("share", F.lit(alpha)).alias("w")
    )
    r0 = t.select(
        "source",
        "n",
        "share",
        (
            (F.col("w") / F.sum("w").over(Window.partitionBy()))
            / F.col("share")
        ).alias("raw_rate"),
    )
    rates = r0.select(
        "source",
        "n",
        "share",
        (
            F.col("raw_rate") / F.max("raw_rate").over(Window.partitionBy())
        ).alias("rate"),
    )
    kept = (
        docs.select("doc_id", "source")
        .join(F.broadcast(rates.select("source", "rate")), "source")
        .filter(
            F.expr(_MIX_BUCKET_SQL)
            < F.round(F.col("rate") * 1_000_000).cast("long")
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        F.round("share", 9).alias("share"),
        F.round("rate", 9).alias("rate"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def texttile_boundaries(
    docs: DataFrame, w: int = 16, tokens_expr: str = TOKENS_EXPR
) -> DataFrame:
    """TextTiling topic segmentation (Hearst 1997, "TextTiling:
    Segmenting Text into Multi-paragraph Subtopic Passages") — the
    topic-boundary chunker a retrieval corpus runs instead of fixed
    token windows: adjacent ``w``-token blocks score lexical cohesion
    (bag-of-words cosine); each inter-block gap gets a DEPTH score
    (peak_left - s) + (peak_right - s) with prefix/suffix peak maxima
    (the paper's hill-climb simplified to global prefix/suffix peaks);
    boundaries are gaps deeper than the paper's cutoff mean - sigma/2.

    Per doc (only docs with >= 2 full blocks, i.e. >= 1 gap):
    n_gaps, n_boundaries, first_boundary (gap index, NULL when the doc
    is one topic), cutoff6, max_depth6. The trailing partial block is
    dropped (blocks are exactly w tokens).

    Engine-exactness: block-pair cosine is num / (sqrt(dl) * sqrt(dr))
    where num = Σ cl*cr and dl/dr = Σ c² are INTEGER sums (order-free)
    and IEEE sqrt is correctly rounded — so every gap score is
    bit-exact across engines with no fold discipline; peak maxima are
    order-free; the one float fold pair (mean, then variance) runs in
    gap order over the bounded per-doc depth list.

    Scale shape (guide §2.4 — one exchange, reused end to end): docs
    with fewer than 2 full blocks are dropped IN-ROW (nb from
    size(tokens), no count-join), the survivors repartition by doc_id
    ONCE while still one-row-per-doc (the cheapest point: bytes = the
    multi-block corpus text), and every downstream step — posexplode,
    the <= 2 gap-side fan-out, both integer count aggregates, the gap
    cosine, the depth windows and the final per-doc stats — satisfies
    its clustering from that same doc_id partitioning (groupBy keys all
    contain doc_id), so the whole operator runs in ONE post-shuffle
    stage: no corpus-wide window, no collect, no join back (the per-doc
    cutoff/boundary outputs fold in-row over the bounded per-doc gap
    array, which also stops the depth subtree being planned twice).
    Per-task state is bounded by tokens per DOCUMENT, not corpus."""
    if w < 1:
        raise ValueError(f"w must be >= 1, got {w}")
    from pyspark.sql import Window

    base = (
        docs.select("doc_id", F.expr(tokens_expr).alias("__toks"))
        # explicit floor: bare CAST(double AS BIGINT) truncates in Spark
        # but ROUNDS in DuckDB — floor + // keep both engines on integer
        # ground
        .withColumn("nb", F.floor(F.size("__toks") / w).cast("long"))
        .filter(F.col("nb") >= 2)
        .repartition("doc_id")
    )
    toks = base.select(
        "doc_id", "nb", F.posexplode("__toks").alias("p", "tok")
    ).withColumn("blk", F.floor(F.col("p") / w).cast("long")).filter(
        F.col("blk") < F.col("nb")
    )
    # block b is the LEFT side of gap b and the RIGHT side of gap b-1:
    # each token fans out to its <= 2 (gap, side) memberships in-row
    sides = F.array(
        F.when(
            F.col("blk") <= F.col("nb") - 2,
            F.struct(F.col("blk").alias("gap"), F.lit(1).alias("l")),
        ),
        F.when(
            F.col("blk") >= 1,
            F.struct((F.col("blk") - 1).alias("gap"), F.lit(0).alias("l")),
        ),
    )
    gs = toks.select(
        "doc_id",
        "tok",
        F.explode(F.filter(sides, lambda x: x.isNotNull())).alias("g"),
    ).select("doc_id", F.col("g.gap").alias("gap"), F.col("g.l").alias("l"), "tok")
    per_tok = gs.groupBy("doc_id", "gap", "tok").agg(
        F.sum("l").alias("cl"),
        F.sum(1 - F.col("l")).alias("cr"),
    )
    scores = per_tok.groupBy("doc_id", "gap").agg(
        F.sum(F.col("cl") * F.col("cr")).alias("num"),
        F.sum(F.col("cl") * F.col("cl")).alias("dl"),
        F.sum(F.col("cr") * F.col("cr")).alias("dr"),
    ).select(
        "doc_id",
        "gap",
        (F.col("num") / (F.sqrt("dl") * F.sqrt("dr"))).alias("s"),
    )
    w_pre = (
        Window.partitionBy("doc_id")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_suf = (
        Window.partitionBy("doc_id")
        .orderBy("gap")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    depths = scores.select(
        "doc_id",
        "gap",
        (
            (F.max("s").over(w_pre) - F.col("s"))
            + (F.max("s").over(w_suf) - F.col("s"))
        ).alias("depth"),
    )
    # ONE groupBy collects the bounded per-doc (gap, depth) array; the
    # cutoff (gap-ordered folds — the float-portability rule) AND the
    # boundary outputs derive from it in-row, so `depths` has exactly
    # one consumer (no join back = no duplicated token subtree)
    stats = depths.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("gap", "depth"))).alias("arr")
    ).select(
        "doc_id",
        "arr",
        F.size("arr").cast("long").alias("n_gaps"),
        (
            F.aggregate(
                F.col("arr"), F.lit(0.0), lambda s, x: s + x["depth"]
            )
            / F.size("arr")
        ).alias("mean"),
    ).select(
        "doc_id",
        "arr",
        "n_gaps",
        (
            F.col("mean")
            - F.sqrt(
                F.aggregate(
                    F.col("arr"),
                    F.lit(0.0),
                    lambda s, x: s
                    + (x["depth"] - F.col("mean"))
                    * (x["depth"] - F.col("mean")),
                )
                / F.col("n_gaps")
            )
            / 2.0
        ).alias("cutoff"),
    )
    bnd = F.filter(F.col("arr"), lambda x: x["depth"] > F.col("cutoff"))
    return stats.select(
        "doc_id",
        "n_gaps",
        F.size(bnd).cast("long").alias("n_boundaries"),
        F.array_min(F.transform(bnd, lambda x: x["gap"])).alias(
            "first_boundary"
        ),
        F.round("cutoff", 6).alias("cutoff6"),
        F.round(
            F.array_max(F.transform(F.col("arr"), lambda x: x["depth"])), 6
        ).alias("max_depth6"),
    )


def unimax_budget(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: float = 1.0,
    tokens_expr: str = TOKENS_EXPR,
) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023 — "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): distribute a total training-token
    budget across sources as uniformly as possible, capping every
    source at ``max_epochs`` epochs of its own data (the fix for
    temperature sampling's over-epoching of low-resource languages).

    The paper's greedy — ascending by size: give each source
    min(cap, remaining/remaining_count) — has a closed form because
    caps ascend with size: the capped set is a PREFIX of the size
    ranking, and rank r is capped iff every earlier rank is capped and
    cap_r * (n - r + 1) + cumcap_{r-1} < budget (once a source declines
    its full fair share, the fair share stays constant, so no later,
    larger source can be capped). Everything up to the final division
    is integer window math over the |sources|-sized counts frame
    (caps round once; cumulative sums are BIGINT), so the oracle
    reproduces each float bit-for-bit.

    Returns per source: n_tokens, cap (= round(n_tokens * max_epochs)),
    alloc6 (allocated tokens, 6 dp), epochs6 (alloc / n_tokens, NULL
    for an empty source), capped.

    Scale shape: one corpus scan into a map-side-combined groupBy; all
    windows run over the DOMAIN-BOUNDED source frame (the
    alpha_mix_report shape) — no driver collect, no shuffle of docs."""
    counts = (
        docs.select("source", F.size(F.expr(tokens_expr)).cast("long").alias("t"))
        .groupBy("source")
        .agg(F.sum("t").alias("n_tokens"))
    )
    return unimax_from_counts(counts, budget_tokens, max_epochs)


def unimax_from_counts(
    counts: DataFrame, budget_tokens: int, max_epochs: float = 1.0
) -> DataFrame:
    """The UniMax closed form over a (source, n_tokens) frame — shared
    by :func:`unimax_budget` and the streaming token-count store's
    allocation-at-read so batch and stream cannot drift (integer count
    state, so parity is hash-exact)."""
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be > 0, got {budget_tokens}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    capf = counts.withColumn(
        "cap", F.round(F.col("n_tokens") * F.lit(float(max_epochs))).cast("long")
    )
    w_rank = Window.orderBy("cap", "source")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    st = capf.select(
        "source",
        "n_tokens",
        "cap",
        F.row_number().over(w_rank).alias("r"),
        (F.sum("cap").over(w_cum) - F.col("cap")).alias("cum_prev"),
        F.count("*").over(w_all).alias("n_src"),
    ).withColumn(
        "cond",
        (
            F.col("cap") * (F.col("n_src") - F.col("r") + 1) + F.col("cum_prev")
            < F.lit(int(budget_tokens))
        ).cast("int"),
    )
    st = (
        st.withColumn("capped", F.min("cond").over(w_cum) == 1)
        .withColumn(
            "n_capped", F.sum(F.col("capped").cast("long")).over(w_all)
        )
        .withColumn(
            "capped_tokens",
            F.sum(F.when(F.col("capped"), F.col("cap")).otherwise(F.lit(0))).over(
                w_all
            ),
        )
    )
    alloc = F.when(F.col("capped"), F.col("cap").cast("double")).otherwise(
        (F.lit(int(budget_tokens)) - F.col("capped_tokens"))
        / (F.col("n_src") - F.col("n_capped"))
    )
    return st.select(
        "source",
        "n_tokens",
        "cap",
        F.round(alloc, 6).alias("alloc6"),
        F.round(
            F.when(F.col("n_tokens") > 0, alloc / F.col("n_tokens")), 6
        ).alias("epochs6"),
        "capped",
    )


def ngram_dup_profile(docs: DataFrame, max_n: int = 3) -> DataFrame:
    """Corpus duplication profile (the RefinedWeb/Gopher-style health
    report, corpus-level): for each n-gram order 1..``max_n``, the
    number of n-gram TOKENS, distinct TYPES, and the duplicate
    fraction (tokens - types) / tokens — how much of the corpus is
    verbatim n-gram repetition, the first number a dedup pass is
    judged against. Returns (n, n_tokens, n_types, dup_fraction).

    Scale shape: tokens project ONCE per document (the staged-column
    rule); each order is one in-row gram construction + one distinct
    count and one count over the exploded stream — map-side combinable
    aggregates, shuffle carries partials. Orders run as a union of
    ``max_n`` narrow plans over the same scan."""
    if max_n < 1:
        raise ValueError(f"max_n must be >= 1, got {max_n}")
    toks = docs.select(F.expr(TOKENS_EXPR).alias("toks"))
    out = None
    for n in range(1, max_n + 1):
        if n == 1:
            gexpr = "toks"
        else:
            joined = ", ".join(f"toks[i + {j}]" for j in range(n))
            gexpr = (
                f"CASE WHEN size(toks) >= {n} THEN "
                f"transform(sequence(0, size(toks) - {n}), "
                f"i -> concat_ws(' ', {joined})) "
                f"ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        grams = toks.select(F.explode(F.expr(gexpr)).alias("g"))
        agg = grams.agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.countDistinct("g").cast("long").alias("n_types"),
        ).select(
            F.lit(n).alias("n"),
            "n_tokens",
            "n_types",
            F.when(
                F.col("n_tokens") > 0,
                (F.col("n_tokens") - F.col("n_types"))
                / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)).alias("dup_fraction"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def zipf_fit(docs: DataFrame, top_k: int = 100) -> DataFrame:
    """ONE row (n_tokens, vocab, zipf_alpha, r2): the Zipf exponent of
    the corpus token distribution — ordinary least squares of
    ln(freq) on ln(rank) over the ``top_k`` most frequent tokens
    (freq ~ rank^-alpha; natural text sits near alpha = 1, and a
    corpus that drifts far from it is boilerplate-heavy or synthetic —
    the classic quick health check next to ngram_dup_profile).

    Scale shape: one token count aggregation (map-side combinable),
    the top-k through TakeOrderedAndProject (rank ties broken by
    token), then closed-form OLS over k rows — sums fold the SORTED
    k-row list (bounded group, bit-determinism free). alpha is
    reported positive (the magnitude of the slope)."""
    if top_k < 3:
        raise ValueError(f"top_k must be >= 3, got {top_k}")
    toks = docs.select(F.explode(F.expr(TOKENS_EXPR)).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
    )
    top = (
        counts.orderBy(F.col("c").desc(), F.col("tok"))
        .limit(top_k)
        .select(F.col("c").cast("double").alias("c"))
        .orderBy(F.col("c").desc())
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("c").desc())
    xy = top.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log("c").alias("y"),
    )
    fold = (
        "aggregate(array_sort(collect_list({0})), "
        "CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
    )
    s = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.expr(fold.format("x")).alias("sx"),
        F.expr(fold.format("y")).alias("sy"),
        F.expr(fold.format("x * x")).alias("sxx"),
        F.expr(fold.format("x * y")).alias("sxy"),
        F.expr(fold.format("y * y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    # r2 expression shape MUST match the DuckDB oracle operation-for-
    # operation (num^2 / (den_x * den_y), no sqrt): algebraically-equal
    # alternatives differ in the last ulps and a boundary-sitting value
    # could flip the rounded hash gate
    r_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r_den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    fit = s.select(
        (-slope).alias("zipf_alpha"),
        ((r_num * r_num) / r_den).alias("r2"),
    )
    return totals.crossJoin(F.broadcast(fit))


def packed_chunk_census(
    docs: DataFrame,
    seq_len: int = 2048,
    tokens_expr: str = TOKENS_EXPR,
    mode: str = "distributed",
) -> DataFrame:
    """Concat-and-chunk sequence packing census — the layout every
    LLM pretraining loader runs (concatenate documents back-to-back in
    a fixed order, split the token stream into ``seq_len`` training
    examples; GPT-3 appendix B, "during training we train on sequences
    of ... packed documents"). Returns one row per training chunk:

        (chunk_id, n_docs, chunk_tokens, n_whole_docs,
         carry_in, carry_out, boundary_frac9)

    n_docs = documents contributing >= 1 token to the chunk; carry_in /
    carry_out flag a document straddling the left/right chunk edge (at
    most one each — the stream is contiguous); n_whole_docs = documents
    fully contained; boundary_frac9 = fraction of the chunk's tokens
    that belong to straddling documents — the attention-contamination
    budget a loader without cross-document masking pays per chunk.

    Scale shape: the global token offset of each document is an
    EXCLUSIVE prefix sum in doc_id order via
    :func:`~audit_star_spark.operators.ids.prefix_sums` — the
    gapless-ids two-pass scheme (per-partition sums -> array-literal
    bases + within-partition running sum), so mode='distributed' has no
    Exchange SinglePartition and no corpus-sized window partition. Each
    document then explodes into the ceil(n/seq_len)+1 chunk ids it
    overlaps (bounded per doc) and ONE groupBy(chunk_id) folds the
    census. Deterministic: token counts are exact ints and doc_id is a
    total order, so chunk boundaries are engine-independent."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    lens = docs.select(
        "doc_id", F.size(F.expr(tokens_expr)).cast("long").alias("n_tokens")
    )
    return packed_chunk_census_from_lens(lens, seq_len=seq_len, mode=mode)


def packed_chunk_census_from_lens(
    lens: DataFrame, seq_len: int = 2048, mode: str = "distributed"
) -> DataFrame:
    """The census core of :func:`packed_chunk_census` over a
    pre-tokenized (doc_id, n_tokens) frame — factored out so the
    streaming store (streaming/packing.py), which persists token
    counts instead of text, derives the identical census at read (one
    code path, two execution modes)."""
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    from audit_star_spark.operators.ids import prefix_sums

    lens = lens.filter(F.col("n_tokens") > 0)
    off = prefix_sums(lens, "n_tokens", ["doc_id"], out="off", mode=mode)
    end = F.col("off") + F.col("n_tokens")
    spans = off.select(
        "doc_id",
        "off",
        end.alias("end"),
        F.expr(
            f"explode(sequence(off DIV {seq_len}, (off + n_tokens - 1) DIV {seq_len}))"
        ).alias("chunk_id"),
    )
    lo = F.col("chunk_id") * seq_len
    hi = lo + seq_len
    tok = F.least(F.col("end"), hi) - F.greatest(F.col("off"), lo)
    starts = F.col("off") >= lo
    ends = F.col("end") <= hi
    per = spans.select(
        "chunk_id",
        tok.alias("tok"),
        starts.alias("starts"),
        ends.alias("ends"),
    )
    agg = per.groupBy("chunk_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tok").alias("chunk_tokens"),
        F.sum((F.col("starts") & F.col("ends")).cast("long")).alias("n_whole_docs"),
        F.max((~F.col("starts")).cast("int")).alias("carry_in"),
        F.max((~F.col("ends")).cast("int")).alias("carry_out"),
        F.sum(
            F.when(~(F.col("starts") & F.col("ends")), F.col("tok")).otherwise(0)
        ).alias("__straddle_tok"),
    )
    return agg.select(
        "chunk_id",
        "n_docs",
        "chunk_tokens",
        "n_whole_docs",
        "carry_in",
        "carry_out",
        F.round(
            F.col("__straddle_tok") / F.col("chunk_tokens").cast("double"), 9
        ).alias("boundary_frac9"),
    )
