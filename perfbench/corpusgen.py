"""Seeded synthetic corpus generator with ground truth.

Documents are drawn from a Zipfian vocabulary. A share of them are exact
duplicates (same text up to case and whitespace), near duplicates (a few
token substitutions, shingle Jaccard well above 0.7) and documents built
to fail the Gopher rules (too short, or one bigram repeated). The
generator evaluates the engine's quality rules itself
(``analytics.quality`` thresholds) so it knows which documents should
survive the gate and how many distinct texts remain after exact dedup.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "on", "for"]
_STOP_RE = re.compile(r"\b(" + "|".join(STOPWORDS) + r")\b")
# analytics.quality gate thresholds
MIN_TOKENS = 25
MIN_AVG_TOK, MAX_AVG_TOK = 2.0, 12.0
MIN_DISTINCT_RATIO = 0.30
MAX_TOP_2GRAM = 0.20


@dataclass(frozen=True)
class CorpusParams:
    n_docs: int
    min_tokens: int = 200
    max_tokens: int = 2000
    vocab: int = 30000
    zipf_s: float = 1.0
    exact_share: float = 0.10
    near_share: float = 0.10
    bad_share: float = 0.05
    edit_share: float = 0.02


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    # (original doc_id, near-duplicate doc_id) pairs that were injected
    near_pairs: list[tuple[int, int]] = field(default_factory=list)
    exact_copies: int = 0
    bad_docs: int = 0

    def expected_keep(self) -> set[int]:
        return {d for d, t in self.docs if gopher_keep(t)}

    def n_tokens(self) -> int:
        return sum(len(tokens(t)) for _d, t in self.docs)

    def expected_after_exact(self) -> int:
        keep = self.expected_keep()
        return len({normalize(t) for d, t in self.docs if d in keep})


def tokens(text: str) -> list[str]:
    """TOKENS_EXPR: lower, trim, collapse whitespace, split on one space."""
    return normalize(text).split(" ")


def normalize(text: str) -> str:
    """NORM_TEXT_EXPR: lower, trim spaces (Spark's ``trim`` strips only
    the space character), collapse Java ``\\s`` runs to one space."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower().strip(" "))


def gopher_keep(text: str) -> bool:
    """The engine's rule gate (analytics.quality.gopher_quality_flags)."""
    t = tokens(text)
    n = len(t)
    if n < MIN_TOKENS:
        return False
    avg = sum(len(x) for x in t) / n
    if not (MIN_AVG_TOK <= avg <= MAX_AVG_TOK):
        return False
    if not _STOP_RE.search(text.lower()):
        return False
    if len(set(t)) / n < MIN_DISTINCT_RATIO:
        return False
    grams = Counter(f"{a} {b}" for a, b in zip(t, t[1:]))
    total = sum(c * len(g) for g, c in grams.items())
    top = max((c * len(g) for g, c in grams.items()), default=0)
    return total > 0 and top / total <= MAX_TOP_2GRAM


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def generate(params: CorpusParams, seed: int) -> Corpus:
    rng = random.Random(seed)
    vocab = _vocab(rng, params.vocab)
    weights = [1.0 / (r ** params.zipf_s) for r in range(1, len(vocab) + 1)]
    n_exact = round(params.n_docs * params.exact_share)
    n_near = round(params.n_docs * params.near_share)
    n_bad = round(params.n_docs * params.bad_share)
    n_base = params.n_docs - n_exact - n_near - n_bad

    def base_doc() -> list[str]:
        while True:
            n = rng.randint(params.min_tokens, params.max_tokens)
            toks = rng.choices(vocab, weights=weights, k=n)
            if gopher_keep(" ".join(toks)):
                return toks

    base = [base_doc() for _ in range(n_base)]
    texts: list[str] = [" ".join(t) for t in base]
    near_src: list[int] = []
    for _ in range(n_exact):
        t = rng.choice(base)
        # same normalized text: case and whitespace variations only
        texts.append("  " + " ".join(t).capitalize().replace(" ", " \t ", 3) + "  ")
    for _ in range(n_near):
        i = rng.randrange(n_base)
        t = list(base[i])
        for j in rng.sample(range(len(t)), max(1, int(len(t) * params.edit_share))):
            t[j] = rng.choice(vocab)
        texts.append(" ".join(t))
        near_src.append(i)
    for k in range(n_bad):
        if k % 2:
            texts.append(" ".join(rng.choices(vocab[:200], k=rng.randint(5, 20))))
        else:
            texts.append(" ".join(["buy now"] * rng.randint(100, 400)))
    # doc ids are a random permutation so duplicates are not clustered
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    near_pairs = [
        (ids[src], ids[n_base + n_exact + k]) for k, src in enumerate(near_src)
    ]
    return Corpus(list(zip(ids, texts)), near_pairs, n_exact, n_bad)


def write_corpus(corpus: Corpus, path: str, n_files: int = 4) -> None:
    rows = sorted(corpus.docs)
    step = -(-len(rows) // n_files)
    os.makedirs(path, exist_ok=True)
    for k in range(0, len(rows), step):
        part = rows[k : k + step]
        table = pa.table(
            {"doc_id": [d for d, _ in part], "text": [t for _, t in part]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
        )
        pq.write_table(table, os.path.join(path, f"part-{k // step:05d}.parquet"))
