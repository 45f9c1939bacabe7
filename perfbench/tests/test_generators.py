"""Self-tests of the benchmark's input generators and their ground truth.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import corpusgen  # noqa: E402
import feedgen  # noqa: E402

SMALL = feedgen.FeedParams(n_events=3000, n_keys=300, n_files=6, zipf_s=1.0)


@pytest.fixture(scope="module")
def feed():
    return feedgen.generate(SMALL, seed=3)


def test_feed_is_deterministic_per_seed(feed):
    again = feedgen.generate(SMALL, seed=3)
    other = feedgen.generate(SMALL, seed=4)
    assert [(e.op, e.key, e.after) for e in again.events] == [
        (e.op, e.key, e.after) for e in feed.events
    ]
    assert [e.key for e in other.events] != [e.key for e in feed.events]


def test_feed_ops_follow_row_lifecycle(feed):
    alive: dict[int, dict] = {}
    for e in feed.events:
        if e.op == "I":
            assert e.key not in alive and e.before is None
            alive[e.key] = e.after
        elif e.op == "D":
            assert e.before == alive.pop(e.key) and e.after is None
        else:
            assert e.before == alive[e.key]
            assert 1 <= len(e.changed) <= 3 and feedgen.PK not in e.changed
            diff = {c for c in e.after if e.after[c] != e.before[c]}
            assert diff == set(e.changed)
            alive[e.key] = e.after
    assert alive == feed.final_state
    ops = [e.op for e in feed.events]
    assert 0.02 < ops.count("D") / len(ops) < 0.08
    reinserts = sum(
        1 for k, idx in feed.history.items()
        for a, b in zip(idx, idx[1:])
        if feed.events[a].op == "D" and feed.events[b].op == "I"
    )
    assert reinserts > 0


def test_feed_has_skew_and_long_values(feed):
    lengths = sorted((len(v) for v in feed.history.values()), reverse=True)
    assert lengths[0] > 10 * lengths[len(lengths) // 2]
    long_notes = [e for e in feed.events if e.after and len(e.after["notes"]) > 500]
    assert long_notes


def test_expected_snapshot_truncates_only_values_a_later_event_names(feed):
    checked = 0
    for key, idx in feed.history.items():
        for pos, i in enumerate(idx):
            ev = feed.events[i]
            if ev.op == "D" or len(ev.after["notes"]) <= feedgen.TRUNCATE_LEN:
                continue
            later = [feed.events[j] for j in idx[pos + 1 :]]
            named = any(e.op == "D" or "notes" in e.changed for e in later)
            own = ev.op == "U" and "notes" in ev.changed
            got = feed.expected_snapshot(i)["notes"]
            want = ev.after["notes"] if own or not named else ev.after["notes"][:500]
            assert got == want
            checked += 1
    assert checked > 0


def test_state_at_end_is_final_state(feed):
    final = feed.state_at(len(feed.events))
    assert final.keys() == feed.final_state.keys()
    for key, row in final.items():
        # at the end nothing later names a column: images come back whole
        assert row == feed.final_state[key]
    assert feed.state_at(0) == {}


def test_written_feed_matches_engine_schema(tmp_path, feed):
    paths = feedgen.write_feed(feed, str(tmp_path))
    assert len(paths) == SMALL.n_files
    mtimes = [os.stat(p).st_mtime for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    tables = [pq.read_table(p) for p in paths]
    assert sum(t.num_rows for t in tables) == SMALL.n_events
    ids = [i for t in tables for i in t.column("event_id").to_pylist()]
    assert ids == list(range(1, SMALL.n_events + 1))
    pytest.importorskip("pyspark")
    from audit_star_spark.streaming.ingest import FEED_SCHEMA

    assert tables[0].schema.names == FEED_SCHEMA.fieldNames()


def test_draw_keys_follows_event_skew(feed):
    import random

    keys = feed.draw_keys(random.Random(1), 2000)
    top = feed.key_order[0]
    assert keys.count(top) > keys.count(feed.key_order[-1])


# -- corpus -----------------------------------------------------------------------

CORPUS = corpusgen.CorpusParams(n_docs=200, min_tokens=200, max_tokens=600)


@pytest.fixture(scope="module")
def corpus():
    return corpusgen.generate(CORPUS, seed=5)


def test_corpus_is_deterministic(corpus):
    assert corpusgen.generate(CORPUS, seed=5).docs == corpus.docs
    assert corpusgen.generate(CORPUS, seed=6).docs != corpus.docs


def test_corpus_shares(corpus):
    assert len(corpus.docs) == CORPUS.n_docs
    assert sorted(d for d, _ in corpus.docs) == list(range(1, CORPUS.n_docs + 1))
    assert corpus.exact_copies == 20 and len(corpus.near_pairs) == 20
    assert corpus.bad_docs == 10
    keep = corpus.expected_keep()
    assert len(keep) == CORPUS.n_docs - corpus.bad_docs


def test_exact_copies_normalize_equal(corpus):
    by_norm: dict[str, int] = {}
    for _d, t in corpus.docs:
        n = corpusgen.normalize(t)
        by_norm[n] = by_norm.get(n, 0) + 1
    dup_docs = sum(c - 1 for c in by_norm.values() if c > 1)
    assert dup_docs >= corpus.exact_copies
    assert corpus.expected_after_exact() == len(
        {corpusgen.normalize(t) for d, t in corpus.docs if d in corpus.expected_keep()}
    )


def _shingles(text: str) -> set[str]:
    t = corpusgen.tokens(text)
    return {" ".join(t[i : i + 3]) for i in range(len(t) - 2)}


def test_near_duplicates_stay_above_threshold(corpus):
    text = dict(corpus.docs)
    for a, b in corpus.near_pairs:
        sa, sb = _shingles(text[a]), _shingles(text[b])
        assert len(sa & sb) / len(sa | sb) > 0.7
        assert corpusgen.normalize(text[a]) != corpusgen.normalize(text[b])


def test_gopher_rules():
    assert not corpusgen.gopher_keep("the cat sat")  # too short
    assert not corpusgen.gopher_keep(" ".join(["buy now"] * 100))  # repetitive
    words = [f"w{i:03d}x" for i in range(60)]
    assert corpusgen.gopher_keep("the " + " ".join(words))
    assert not corpusgen.gopher_keep(" ".join(words))  # no stopword
