"""Round-14 operators: CLIP-style paired alignment census."""

from pyspark.sql import functions as F


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "pair_id long, label int, img_vec array<double>, txt_vec array<double>"
    )


def test_clip_alignment_zero_norm_is_unscorable(spark):
    from audit_star_spark.analytics.similarity import clip_alignment_census

    rows = [
        (0, 1, [1.0, 0.0], [1.0, 0.0]),  # sim 1.0 -> aligned
        (1, 1, [1.0, 0.0], [0.0, 1.0]),  # sim 0.0 -> not aligned
        (2, 1, [0.0, 0.0], [1.0, 0.0]),  # zero-norm image -> unscorable
        (3, 1, [1.0, 0.0], [0.0, 0.0]),  # zero-norm caption -> unscorable
        (4, 2, [0.0, 0.0], [0.0, 0.0]),  # label with ONLY unscorable pairs
    ]
    got = {
        r["label"]: r
        for r in clip_alignment_census(_pairs(spark, rows), threshold=0.28).collect()
    }
    assert got[1]["n_pairs"] == 4
    assert got[1]["n_scored"] == 2  # zero-norm pairs never score
    assert got[1]["n_aligned"] == 1
    assert got[1]["frac_aligned6"] == 0.5
    assert got[1]["min_sim6"] == 0.0 and got[1]["max_sim6"] == 1.0
    # all-unscorable label: counted, never divided by zero, NULL stats
    assert got[2]["n_pairs"] == 1 and got[2]["n_scored"] == 0
    assert got[2]["n_aligned"] == 0
    assert got[2]["frac_aligned6"] is None
    assert got[2]["avg_sim6"] is None


def test_clip_alignment_plan_is_join_free(spark):
    """The census must stay one scan + one map-side-combined aggregate:
    no join, no broadcast, no window — the operator's 100 TB contract
    (the gate's pair synthesis is plumbing OUTSIDE the operator)."""
    from audit_star_spark.analytics.similarity import clip_alignment_census

    df = clip_alignment_census(
        _pairs(spark, [(0, 1, [1.0, 0.0], [1.0, 0.0])])
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Window" not in plan
    # partial (map-side) aggregation before the single label exchange
    assert "partial" in plan.lower()


def test_prefix_sums_modes_agree(spark):
    from audit_star_spark.operators.ids import prefix_sums

    rows = [(i, (i * 37) % 11 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, v long").repartition(8)
    got_d = {
        r["doc_id"]: r["offset"]
        for r in prefix_sums(df, "v", ["doc_id"], mode="distributed").collect()
    }
    got_w = {
        r["doc_id"]: r["offset"]
        for r in prefix_sums(df, "v", ["doc_id"], mode="window").collect()
    }
    acc, want = 0, {}
    for i, v in rows:
        want[i] = acc
        acc += v
    assert got_d == want
    assert got_w == want


def _ids_by_mode(df, **kw):
    from audit_star_spark.operators.ids import gapless_ids

    return [
        {r["doc_id"]: r["audit_id"] for r in gapless_ids(df, ["doc_id"], mode=m, **kw).collect()}
        for m in ("distributed", "window")
    ]


def test_gapless_ids_modes_agree(spark):
    # start != 1 over many partitions
    df = spark.createDataFrame([(i * 7 % 500,) for i in range(500)], "doc_id long").repartition(8)
    got_d, got_w = _ids_by_mode(df, start=1001)
    assert got_d == got_w == {i: 1001 + i for i in range(500)}
    # more partitions than rows: empty partitions still get a base
    few = spark.createDataFrame([(30,), (10,), (20,)], "doc_id long")
    got_d, got_w = _ids_by_mode(few, start=5, num_partitions=8)
    assert got_d == got_w == {10: 5, 20: 6, 30: 7}
    # empty input
    empty = spark.createDataFrame([], "doc_id long")
    got_d, got_w = _ids_by_mode(empty)
    assert got_d == got_w == {}


def test_base_lookup_covers_empty_middle_and_trailing_partitions(spark):
    from pyspark.sql import functions as F

    from audit_star_spark.operators.ids import _base_lookup

    pids = spark.range(6).select(F.col("id").cast("int").alias("__pid"))
    base = _base_lookup({0: 2, 3: 4}, num_partitions=6, start=10)
    got = [r["b"] for r in pids.select(base.alias("b")).orderBy("__pid").collect()]
    assert got == [10, 12, 12, 12, 16, 16]


def test_packed_chunk_census_invariants(spark):
    from audit_star_spark.analytics.text import packed_chunk_census

    # doc i has (i % 29) + 1 tokens
    docs = spark.createDataFrame(
        [(i, " ".join("w" for _ in range((i % 29) + 1))) for i in range(80)],
        "doc_id long, text string",
    )
    L = 16
    rows = {r["chunk_id"]: r for r in packed_chunk_census(docs, seq_len=L).collect()}
    total = sum((i % 29) + 1 for i in range(80))
    assert sorted(rows) == list(range((total + L - 1) // L))
    for cid, r in rows.items():
        if cid < max(rows):
            assert r["chunk_tokens"] == L  # interior chunks are full
        assert r["n_docs"] >= r["n_whole_docs"]
        # contiguous stream: at most one straddler per edge
        assert r["carry_in"] in (0, 1) and r["carry_out"] in (0, 1)
        assert r["n_whole_docs"] + r["carry_in"] + r["carry_out"] >= r["n_docs"] - 1
    assert sum(r["chunk_tokens"] for r in rows.values()) == total
    # the last chunk may be partial and must never carry out
    assert rows[max(rows)]["carry_out"] == 0
    assert rows[0]["carry_in"] == 0
    # distributed == window (the prefix_sums parity carried through)
    w = {
        tuple(r)
        for r in packed_chunk_census(docs, seq_len=L, mode="window").collect()
    }
    assert {tuple(r) for r in rows.values()} == w


def test_packed_chunk_census_distributed_plan_has_no_global_funnel(spark):
    from audit_star_spark.analytics.text import packed_chunk_census

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(10)], "doc_id long, text string"
    )
    df = packed_chunk_census(docs, seq_len=4, mode="distributed")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


PAIR_ROWS = [
    (0, 1, [1.0, 0.0], [1.0, 0.0]),
    (1, 1, [1.0, 0.0], [0.0, 1.0]),
    (2, 1, [0.0, 0.0], [1.0, 0.0]),
    (3, 2, [1.0, 1.0], [1.0, 0.9]),
    (4, 2, [1.0, 0.0], [-1.0, 0.0]),
    (5, 3, [0.0, 0.0], [0.0, 0.0]),
]
MORE_ROWS = [
    (6, 1, [0.5, 0.5], [0.5, 0.5]),
    (7, 3, [2.0, 0.0], [2.0, 0.1]),
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_clip_alignment_parity_replay_compaction(spark, tmp_path):
    import os

    from audit_star_spark.analytics.similarity import clip_alignment_census
    from audit_star_spark.streaming.alignment import StreamingClipAlignment

    st = StreamingClipAlignment(str(tmp_path / "align"))
    assert st.census(spark) is None
    st.apply_batch(_pairs(spark, PAIR_ROWS[:3]), 0)
    st.apply_batch(_pairs(spark, PAIR_ROWS[3:]), 1)
    want = _rows(clip_alignment_census(_pairs(spark, PAIR_ROWS)))
    assert _rows(st.census(spark)) == want
    st.apply_batch(_pairs(spark, PAIR_ROWS[3:]), 1)  # replay: own partition
    assert _rows(st.census(spark)) == want
    st.compact(spark)
    assert _rows(st.census(spark)) == want
    parts = {p for p in os.listdir(st.store_dir) if p.startswith("ingest_")}
    assert parts == {"ingest_batch_id=-1"}
    st.apply_batch(_pairs(spark, PAIR_ROWS[3:]), 1)  # replay AFTER compaction
    assert _rows(st.census(spark)) == want
    st.apply_batch(_pairs(spark, MORE_ROWS), 2)
    assert _rows(st.census(spark)) == _rows(
        clip_alignment_census(_pairs(spark, PAIR_ROWS + MORE_ROWS))
    )


def test_streaming_clip_alignment_availablenow(spark, tmp_path):
    from audit_star_spark.analytics.similarity import clip_alignment_census
    from audit_star_spark.streaming.alignment import StreamingClipAlignment

    src = str(tmp_path / "src")
    _pairs(spark, PAIR_ROWS).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    st = StreamingClipAlignment(str(tmp_path / "align"))
    st.start(stream, str(tmp_path / "ck")).awaitTermination()
    assert _rows(st.census(spark)) == _rows(
        clip_alignment_census(_pairs(spark, PAIR_ROWS))
    )


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


PACK_DOCS = [(i, " ".join("w" for _ in range((i % 13) + 1))) for i in range(40)]
PACK_LATER = [(40 + i, " ".join("w" for _ in range((i % 7) + 2))) for i in range(10)]

def test_streaming_packed_chunks_parity_replay_compaction(spark, tmp_path):
    import os

    from audit_star_spark.analytics.text import packed_chunk_census
    from audit_star_spark.streaming.packing import StreamingPackedChunks

    st = StreamingPackedChunks(str(tmp_path / "pack"), seq_len=16)
    assert st.census(spark) is None
    st.apply_batch(_docs(spark, PACK_DOCS[:25]), 0)
    st.apply_batch(_docs(spark, PACK_DOCS[25:]), 1)
    want = _rows(packed_chunk_census(_docs(spark, PACK_DOCS), seq_len=16))
    assert _rows(st.census(spark)) == want
    st.apply_batch(_docs(spark, PACK_DOCS[25:]), 1)  # replay
    assert _rows(st.census(spark)) == want
    st.compact(spark)
    assert _rows(st.census(spark)) == want
    parts = {p for p in os.listdir(st.store_dir) if p.startswith("ingest_")}
    assert parts == {"ingest_batch_id=-1"}
    st.apply_batch(_docs(spark, PACK_DOCS[25:]), 1)  # replay AFTER compaction
    assert _rows(st.census(spark)) == want
    st.apply_batch(_docs(spark, PACK_LATER), 2)
    assert _rows(st.census(spark)) == _rows(
        packed_chunk_census(_docs(spark, PACK_DOCS + PACK_LATER), seq_len=16)
    )
    # both cut modes of the read path agree
    assert _rows(st.census(spark, mode="window")) == _rows(
        st.census(spark, mode="distributed")
    )


def test_streaming_packed_chunks_availablenow(spark, tmp_path):
    from audit_star_spark.analytics.text import packed_chunk_census
    from audit_star_spark.streaming.packing import StreamingPackedChunks

    src = str(tmp_path / "src")
    _docs(spark, PACK_DOCS).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    st = StreamingPackedChunks(str(tmp_path / "pack"), seq_len=16)
    st.start(stream, str(tmp_path / "ck")).awaitTermination()
    assert _rows(st.census(spark)) == _rows(
        packed_chunk_census(_docs(spark, PACK_DOCS), seq_len=16)
    )


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_bitext_mine_hand_corpus(spark):
    """Hand-checkable margin mining: src x0=(1,0), x1=(0,1); tgt t2~x0,
    t3~x1, t4 diagonal. Ratio margins of the aligned pairs clear 1.05
    by a wide hand-computed gap (1.423); the diagonal never wins."""
    from audit_star_spark.analytics.similarity import bitext_mine

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.0, 1.0], 0),
        (2, [1.0, 0.1], 1),
        (3, [0.1, 1.0], 1),
        (4, [0.7, 0.7], 1),
    ]
    got = {
        (r["src_id"], r["tgt_id"]): r
        for r in bitext_mine(_emb(spark, rows), n_cells=1, k=2).collect()
    }
    assert set(got) == {(0, 2), (1, 3)}
    assert all(r["mutual"] for r in got.values())
    # margin(x0,t2) = cos(x0,t2) / ((avgk(x0) + avgk(t2)) / 2) with the
    # float32-cast inputs (0.1f != 0.1) = 1.423167
    assert abs(got[(0, 2)]["margin6"] - 1.423167) < 2e-6
    assert abs(got[(0, 2)]["cos6"] - 0.995037) < 2e-6
    # threshold above the hand margin -> nothing mined
    assert (
        bitext_mine(_emb(spark, rows), n_cells=1, k=2, threshold=1.5).count()
        == 0
    )


def test_bitext_mine_mutual_flag(spark):
    """Two identical sources compete for one target: both mine it
    forward, but only the lower-id source is the target's best
    (tie-break on partner id), so exactly one pair is mutual."""
    from audit_star_spark.analytics.similarity import bitext_mine

    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 2),  # even label -> also source side
        (2, [1.0, 0.0], 1),
    ]
    got = {
        r["src_id"]: r["mutual"]
        for r in bitext_mine(
            _emb(spark, rows), n_cells=1, k=1, threshold=0.9
        ).collect()
    }
    assert got == {0: True, 1: False}


def test_bitext_mine_plan_is_cell_blocked(spark):
    """Scale locks: the ONLY row_number window is the bounded per-vector
    cell-assignment argmax (group size = n_cells); the kNN averages and
    both argmaxes are the two-phase partial top-k, so no window may be
    partitioned by src_id/tgt_id/query_id, and partial aggregation must
    appear before the top-k exchanges."""
    from audit_star_spark.analytics.similarity import bitext_mine

    df = bitext_mine(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        n_cells=8,
        k=4,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    for spec in wins:
        assert "vec_id" in spec, f"unexpected window partition: {spec}"
        for key in ("src_id", "tgt_id", "query_id"):
            assert key not in spec, f"corpus-keyed window funnel: {spec}"
    assert "partial" in plan.lower()


def test_bitext_mine_validation(spark):
    from audit_star_spark.analytics.similarity import bitext_mine
    import pytest

    with pytest.raises(ValueError):
        bitext_mine(_emb(spark, [(0, [1.0], 0)]), n_cells=0)
    with pytest.raises(ValueError):
        bitext_mine(_emb(spark, [(0, [1.0], 0)]), k=0)


def test_bitext_mine_custom_side_column(spark):
    """A real pipeline passes its language flag as the side expression;
    mining over an explicit lang column must equal the label-parity
    default when the two encode the same split."""
    from audit_star_spark.analytics.similarity import bitext_mine

    rows = [
        (0, [1.0, 0.0], 0, "en"),
        (1, [0.0, 1.0], 0, "en"),
        (2, [1.0, 0.1], 1, "de"),
        (3, [0.1, 1.0], 1, "de"),
        (4, [0.7, 0.7], 1, "de"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int, lang string"
    )
    by_lang = bitext_mine(
        df, n_cells=1, k=2, side=(F.col("lang") == "de").cast("int")
    )
    by_parity = bitext_mine(df.drop("lang"), n_cells=1, k=2)
    assert sorted(map(tuple, by_lang.collect())) == sorted(
        map(tuple, by_parity.collect())
    )


def _emb_rows(n, offset=0):
    # deterministic small corpus: directions vary by id, labels cycle 0-3
    import math

    return [
        (
            offset + i,
            [
                float(f"{math.sin(0.7 * (offset + i) + d):.6f}")
                for d in range(8)
            ],
            (offset + i) % 4,
        )
        for i in range(n)
    ]


def test_streaming_bitext_parity_replay_compaction(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from audit_star_spark.analytics.similarity import bitext_mine
    from audit_star_spark.streaming.bitext import StreamingBitextMiner

    first, later = _emb_rows(40), _emb_rows(12, offset=40)
    cents = _emb(spark, first).filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell_id"), "embedding"
    )
    st = StreamingBitextMiner(str(tmp_path / "bitext"), k=3, threshold=0.8)
    assert st.mine(spark) is None
    import pytest

    with pytest.raises(ValueError):  # no frozen centroids yet
        st.apply_batch(_emb(spark, first), 0)
    st.ensure_centroids(cents)
    st.apply_batch(_emb(spark, first[:25]), 0)
    st.apply_batch(_emb(spark, first[25:]), 1)
    want = _rows(
        bitext_mine(_emb(spark, first), k=3, threshold=0.8, centroids=cents)
    )
    assert want, "parity corpus must actually mine pairs"
    assert _rows(st.mine(spark)) == want
    st.apply_batch(_emb(spark, first[25:]), 1)  # replay: own partition
    assert _rows(st.mine(spark)) == want
    st.compact(spark)
    assert _rows(st.mine(spark)) == want
    parts = {p for p in os.listdir(st.store_dir) if p.startswith("ingest_")}
    assert parts == {"ingest_batch_id=-1"}
    st.apply_batch(_emb(spark, first[25:]), 1)  # replay AFTER compaction
    assert _rows(st.mine(spark)) == want
    st.apply_batch(_emb(spark, later), 2)
    assert _rows(st.mine(spark)) == _rows(
        bitext_mine(
            _emb(spark, first + later), k=3, threshold=0.8, centroids=cents
        )
    )
    # frozen quantizer: a second ensure_centroids never overwrites
    st.ensure_centroids(
        _emb(spark, later).select(F.col("vec_id").alias("cell_id"), "embedding")
    )
    assert _rows(st.mine(spark)) == _rows(
        bitext_mine(
            _emb(spark, first + later), k=3, threshold=0.8, centroids=cents
        )
    )


def test_streaming_bitext_availablenow(spark, tmp_path):
    from pyspark.sql import functions as F

    from audit_star_spark.analytics.similarity import bitext_mine
    from audit_star_spark.streaming.bitext import StreamingBitextMiner

    rows = _emb_rows(36)
    src = str(tmp_path / "src")
    _emb(spark, rows).repartition(3).write.parquet(src)
    cents = _emb(spark, rows).filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell_id"), "embedding"
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    st = StreamingBitextMiner(str(tmp_path / "bitext"), k=3, threshold=0.8)
    st.ensure_centroids(cents)
    st.start(stream, str(tmp_path / "ck")).awaitTermination()
    assert _rows(st.mine(spark)) == _rows(
        bitext_mine(_emb(spark, rows), k=3, threshold=0.8, centroids=cents)
    )


def test_k_anonymity_hand_census(spark):
    from audit_star_spark.analytics.privacy import k_anonymity_census

    df = spark.createDataFrame(
        [
            ("A", "x"),
            ("A", "x"),
            ("A", "y"),
            ("B", "z"),
        ],
        "q string, s string",
    )
    got = {
        r["class_size"]: r
        for r in k_anonymity_census(
            df, ["q"], k=2, sensitive_col="s"
        ).collect()
    }
    assert set(got) == {1, 3}
    big, small = got[3], got[1]
    assert big["n_classes"] == 1 and big["n_rows"] == 3
    assert big["share6"] == 0.75 and big["risky"] is False
    assert big["min_l"] == 2 and big["avg_l6"] == 2.0
    assert small["risky"] is True and small["min_l"] == 1
    # homogeneity attack: size >= k but a single sensitive value
    homo = spark.createDataFrame(
        [("A", "x"), ("A", "x")], "q string, s string"
    )
    row = k_anonymity_census(homo, ["q"], k=2, sensitive_col="s").collect()[0]
    assert row["risky"] is False and row["min_l"] == 1


def test_k_anonymity_without_sensitive_and_validation(spark):
    import pytest

    from audit_star_spark.analytics.privacy import k_anonymity_census

    df = spark.createDataFrame([("A", 1), ("A", 2)], "q string, v int")
    row = k_anonymity_census(df, ["q"], k=5).collect()[0]
    assert row["class_size"] == 2 and row["risky"] is True
    assert row["min_l"] is None and row["avg_l6"] is None
    with pytest.raises(ValueError):
        k_anonymity_census(df, [], k=5)
    with pytest.raises(ValueError):
        k_anonymity_census(df, ["q"], k=0)


def test_k_anonymity_plan_has_no_corpus_window(spark):
    """The corpus total must arrive as a broadcast 1-row frame, never a
    window over the data rows; both aggregates must partial map-side."""
    from audit_star_spark.analytics.privacy import k_anonymity_census

    df = spark.createDataFrame([("A", 1), ("B", 2)], "q string, v int")
    plan = (
        k_anonymity_census(df, ["q"], k=2, sensitive_col="v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "partial" in plan.lower()


PRIV_ROWS = [
    ("A", "BLD", 1.0),
    ("A", "BLD", 2.0),
    ("A", "BLD", 2.0),
    ("A", "MCH", 3.0),
    ("B", "BLD", 1.0),
    ("B", "BLD", 4.0),
]
PRIV_LATER = [
    ("A", "BLD", 5.0),  # grows an existing class AND adds a new l value
    ("C", "MCH", 1.0),  # brand-new class of size 1
]


def _priv(spark, rows):
    return spark.createDataFrame(rows, "nation string, seg string, bal double")


def test_streaming_k_anonymity_parity_replay_compaction(spark, tmp_path):
    import os

    from audit_star_spark.analytics.privacy import k_anonymity_census
    from audit_star_spark.streaming.privacy import StreamingKAnonymity

    st = StreamingKAnonymity(
        str(tmp_path / "priv"), ["nation", "seg"], k=2, sensitive_col="bal"
    )
    assert st.census(spark) is None
    st.apply_batch(_priv(spark, PRIV_ROWS[:3]), 0)
    st.apply_batch(_priv(spark, PRIV_ROWS[3:]), 1)
    want = _rows(
        k_anonymity_census(
            _priv(spark, PRIV_ROWS), ["nation", "seg"], k=2, sensitive_col="bal"
        )
    )
    assert _rows(st.census(spark)) == want
    st.apply_batch(_priv(spark, PRIV_ROWS[3:]), 1)  # replay: own partition
    assert _rows(st.census(spark)) == want
    st.compact(spark)
    assert _rows(st.census(spark)) == want
    parts = {p for p in os.listdir(st.store_dir) if p.startswith("ingest_")}
    assert parts == {"ingest_batch_id=-1"}
    st.apply_batch(_priv(spark, PRIV_ROWS[3:]), 1)  # replay AFTER compaction
    assert _rows(st.census(spark)) == want
    # a class straddling batches must census as ONE class (the reason
    # per-batch verdicts cannot freeze)
    st.apply_batch(_priv(spark, PRIV_LATER), 2)
    assert _rows(st.census(spark)) == _rows(
        k_anonymity_census(
            _priv(spark, PRIV_ROWS + PRIV_LATER),
            ["nation", "seg"],
            k=2,
            sensitive_col="bal",
        )
    )


def test_streaming_k_anonymity_without_sensitive(spark, tmp_path):
    from audit_star_spark.analytics.privacy import k_anonymity_census
    from audit_star_spark.streaming.privacy import StreamingKAnonymity

    st = StreamingKAnonymity(str(tmp_path / "priv"), ["nation"], k=3)
    st.apply_batch(_priv(spark, PRIV_ROWS[:4]), 0)
    st.apply_batch(_priv(spark, PRIV_ROWS[4:]), 1)
    assert _rows(st.census(spark)) == _rows(
        k_anonymity_census(_priv(spark, PRIV_ROWS), ["nation"], k=3)
    )


def test_streaming_k_anonymity_availablenow(spark, tmp_path):
    from audit_star_spark.analytics.privacy import k_anonymity_census
    from audit_star_spark.streaming.privacy import StreamingKAnonymity

    src = str(tmp_path / "src")
    _priv(spark, PRIV_ROWS).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    st = StreamingKAnonymity(
        str(tmp_path / "priv"), ["nation", "seg"], k=2, sensitive_col="bal"
    )
    st.start(stream, str(tmp_path / "ck")).awaitTermination()
    assert _rows(st.census(spark)) == _rows(
        k_anonymity_census(
            _priv(spark, PRIV_ROWS), ["nation", "seg"], k=2, sensitive_col="bal"
        )
    )


def test_embedding_drift_hand_stats(spark):
    from audit_star_spark.analytics.drift import embedding_drift

    rows = [
        (0, [0.0, 0.0], 0),  # side 0: mean (1,1), var (1,1)
        (1, [2.0, 2.0], 0),
        (2, [1.0, 3.0], 1),  # side 1: mean (1,3), var (0,0)
        (3, [1.0, 3.0], 1),
    ]
    got = {
        r["i"]: r for r in embedding_drift(_emb(spark, rows)).collect()
    }
    assert set(got) == {0, 1}
    d0, d1 = got[0], got[1]
    assert d0["n_a"] == 2 and d0["n_b"] == 2
    assert (d0["mean_a6"], d0["mean_b6"]) == (1.0, 1.0)
    assert (d0["var_a6"], d0["var_b6"]) == (1.0, 0.0)
    assert d0["smd6"] == 0.0 and d0["fid_term6"] == 1.0
    assert (d1["mean_a6"], d1["mean_b6"]) == (1.0, 3.0)
    # smd = (1-3)/sqrt((1+0)/2) = -2.828427; fid = 4 + 1 + 0 - 0 = 5
    assert abs(d1["smd6"] + 2.828427) < 2e-6
    assert d1["fid_term6"] == 5.0
    # both variances zero -> smd NULL via the explicit CASE, fid 0
    flat = [(0, [5.0], 0), (1, [5.0], 0), (2, [5.0], 1), (3, [5.0], 1)]
    row = embedding_drift(_emb(spark, flat)).collect()[0]
    assert row["smd6"] is None and row["fid_term6"] == 0.0


def test_embedding_drift_modes_agree(spark):
    """Production mode (plain SUM partials) must match the gate's
    sorted-fold mode to float tolerance on every statistic."""
    from audit_star_spark.analytics.drift import embedding_drift

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {r["i"]: r for r in embedding_drift(emb, bit_exact=True).collect()}
    fast = {r["i"]: r for r in embedding_drift(emb, bit_exact=False).collect()}
    assert set(exact) == set(fast) and len(exact) == 64
    for i, e in exact.items():
        f = fast[i]
        for c in ("mean_a6", "mean_b6", "var_a6", "var_b6", "smd6", "fid_term6"):
            assert abs(e[c] - f[c]) <= 1e-5, (i, c, e[c], f[c])


def test_embedding_drift_plan_shape(spark):
    """No corpus window, no single-partition exchange; the centering
    join is broadcast (bounded 2*D-row mean frame)."""
    from audit_star_spark.analytics.drift import embedding_drift

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        embedding_drift(emb, bit_exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def _drift_rows(n, offset=0):
    import math

    return [
        (
            offset + j,
            [
                float(f"{math.cos(0.31 * (offset + j) + d) + (0.2 * d if (offset + j) % 2 else 0.0):.6f}")
                for d in range(6)
            ],
            (offset + j) % 4,
        )
        for j in range(n)
    ]


def _drift_close(rows_a, rows_b, tol=1e-5):
    assert {r[0] for r in rows_a} == {r[0] for r in rows_b}
    a = {r[0]: r for r in rows_a}
    for key, rb in ((r[0], r) for r in rows_b):
        ra = a[key]
        assert ra[1] == rb[1] and ra[2] == rb[2]  # n_a, n_b exact
        for x, y in zip(ra[3:], rb[3:]):
            if x is None or y is None:
                assert x == y
            else:
                assert abs(x - y) <= tol, (key, x, y)


def test_streaming_drift_parity_replay_compaction(spark, tmp_path):
    import os

    from audit_star_spark.analytics.drift import embedding_drift
    from audit_star_spark.streaming.drift import StreamingEmbeddingDrift

    first, later = _drift_rows(40), _drift_rows(12, offset=40)
    st = StreamingEmbeddingDrift(str(tmp_path / "drift"))
    assert st.census(spark) is None
    st.apply_batch(_emb(spark, first[:25]), 0)
    st.apply_batch(_emb(spark, first[25:]), 1)
    want = sorted(map(tuple, embedding_drift(_emb(spark, first)).collect()))
    _drift_close(sorted(map(tuple, st.census(spark).collect())), want)
    st.apply_batch(_emb(spark, first[25:]), 1)  # replay: own partition
    _drift_close(sorted(map(tuple, st.census(spark).collect())), want)
    st.compact(spark)
    _drift_close(sorted(map(tuple, st.census(spark).collect())), want)
    parts = {p for p in os.listdir(st.store_dir) if p.startswith("ingest_")}
    assert parts == {"ingest_batch_id=-1"}
    st.apply_batch(_emb(spark, later), 2)
    _drift_close(
        sorted(map(tuple, st.census(spark).collect())),
        sorted(map(tuple, embedding_drift(_emb(spark, first + later)).collect())),
    )
    # constant dimension across both sides: clamped var, NULL smd, fid 0
    flat = [(0, [7.0], 0), (1, [7.0], 0), (2, [7.0], 1), (3, [7.0], 1)]
    st2 = StreamingEmbeddingDrift(str(tmp_path / "drift2"))
    st2.apply_batch(_emb(spark, flat), 0)
    row = st2.census(spark).collect()[0]
    assert row["smd6"] is None and row["fid_term6"] == 0.0
    assert row["var_a6"] == 0.0 and row["var_b6"] == 0.0


def test_streaming_drift_availablenow(spark, tmp_path):
    from audit_star_spark.analytics.drift import embedding_drift
    from audit_star_spark.streaming.drift import StreamingEmbeddingDrift

    rows = _drift_rows(36)
    src = str(tmp_path / "src")
    _emb(spark, rows).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    st = StreamingEmbeddingDrift(str(tmp_path / "drift"))
    st.start(stream, str(tmp_path / "ck")).awaitTermination()
    _drift_close(
        sorted(map(tuple, st.census(spark).collect())),
        sorted(map(tuple, embedding_drift(_emb(spark, rows)).collect())),
    )


def test_vocab_drift_hand_distributions(spark):
    import math

    from audit_star_spark.analytics.drift import vocab_drift

    docs = spark.createDataFrame(
        [
            (0, "a a b"),  # side 0 (even ids): a x3, b x1 -> T_a = 4
            (2, "a"),
            (1, "a c c"),  # side 1: a x1, c x2 -> T_b = 3
        ],
        "doc_id long, text string",
    )
    got = vocab_drift(docs, k=10).collect()
    # ranked by js desc: c (one-sided 2/3), b (one-sided 1/4), a (shared)
    assert [r["token"] for r in got] == ["c", "b", "a"]
    by = {r["token"]: r for r in got}
    assert (by["a"]["c_a"], by["a"]["c_b"]) == (3, 1)
    assert (by["b"]["c_a"], by["b"]["c_b"]) == (1, 0)
    assert (by["c"]["c_a"], by["c"]["c_b"]) == (0, 2)

    def js(p, q):
        m = (p + q) / 2.0
        t = p * math.log(p / m) / 2.0 if p > 0 else 0.0
        return t + (q * math.log(q / m) / 2.0 if q > 0 else 0.0)

    assert abs(by["a"]["js6"] - round(js(3 / 4, 1 / 3), 6)) < 2e-6
    assert abs(by["b"]["js6"] - round(js(1 / 4, 0.0), 6)) < 2e-6
    assert abs(by["c"]["js6"] - round(js(0.0, 2 / 3), 6)) < 2e-6
    assert by["b"]["q6"] == 0.0 and by["c"]["p6"] == 0.0
    # identical sides -> zero drift everywhere
    same = spark.createDataFrame(
        [(0, "x y"), (1, "x y")], "doc_id long, text string"
    )
    assert all(r["js6"] == 0.0 for r in vocab_drift(same, k=10).collect())
    import pytest

    with pytest.raises(ValueError):
        vocab_drift(docs, k=0)


def test_vocab_drift_plan_shape(spark):
    """No corpus window; the side totals arrive broadcast; the top-k is
    a TakeOrdered, never a global sort materialization."""
    from audit_star_spark.analytics.drift import vocab_drift

    docs = spark.createDataFrame(
        [(i, "w x y") for i in range(8)], "doc_id long, text string"
    )
    plan = (
        vocab_drift(docs, k=5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row totals cross join


VOCAB_DOCS = [(i, ["alpha beta", "beta gamma", "gamma delta x", "alpha alpha y"][i % 4]) for i in range(20)]
VOCAB_LATER = [(20 + i, "epsilon beta z") for i in range(6)]


def test_streaming_vocab_drift_exact_parity_replay_compaction(spark, tmp_path):
    import os

    from audit_star_spark.analytics.drift import vocab_drift
    from audit_star_spark.streaming.drift import StreamingVocabDrift

    st = StreamingVocabDrift(str(tmp_path / "vd"), k=50)
    assert st.census(spark) is None
    st.apply_batch(_docs(spark, VOCAB_DOCS[:12]), 0)
    st.apply_batch(_docs(spark, VOCAB_DOCS[12:]), 1)
    want = _rows(vocab_drift(_docs(spark, VOCAB_DOCS), k=50))
    assert _rows(st.census(spark)) == want  # EXACT, integer counts
    st.apply_batch(_docs(spark, VOCAB_DOCS[12:]), 1)  # replay
    assert _rows(st.census(spark)) == want
    st.compact(spark)
    assert _rows(st.census(spark)) == want
    parts = {p for p in os.listdir(st.store_dir) if p.startswith("ingest_")}
    assert parts == {"ingest_batch_id=-1"}
    st.apply_batch(_docs(spark, VOCAB_LATER), 2)
    assert _rows(st.census(spark)) == _rows(
        vocab_drift(_docs(spark, VOCAB_DOCS + VOCAB_LATER), k=50)
    )


def test_streaming_vocab_drift_availablenow(spark, tmp_path):
    from audit_star_spark.analytics.drift import vocab_drift
    from audit_star_spark.streaming.drift import StreamingVocabDrift

    src = str(tmp_path / "src")
    _docs(spark, VOCAB_DOCS).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    st = StreamingVocabDrift(str(tmp_path / "vd"), k=50)
    st.start(stream, str(tmp_path / "ck")).awaitTermination()
    assert _rows(st.census(spark)) == _rows(
        vocab_drift(_docs(spark, VOCAB_DOCS), k=50)
    )
