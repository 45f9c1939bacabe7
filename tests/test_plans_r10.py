"""Plan locks for the round-10 fixes: the length-bucketed batching rank
must never funnel the corpus through a single task (the r9 verdict's one
scale-killer), and the robots verdict join must scan the URL side once.
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_length_bucketed_batches_no_single_partition_exchange(spark, docs):
    """The global rank comes from gapless_ids (range partition +
    per-partition index + array-literal offsets) — a partition-less
    row_number window would show as Exchange SinglePartition and
    serialize the whole corpus through one task at scale."""
    from audit_star_spark.analytics.text import length_bucketed_batches

    out = length_bucketed_batches(docs, batch_size=8)
    plan = _plan(out)
    assert "Exchange SinglePartition" not in plan, plan
    # the rank feed is range-partitioned on the sort key
    assert "rangepartitioning" in plan.lower() or "REPARTITION" in plan, plan


def test_length_bucketed_batches_matches_window_rank(spark, docs):
    """Bit-identical to the row_number() definition the oracle states."""
    from pyspark.sql import Window

    from audit_star_spark.analytics.text import TOKENS_EXPR, length_bucketed_batches

    lens = docs.select(
        "doc_id", F.size(F.expr(TOKENS_EXPR)).cast("long").alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", "doc_id")
    ref = (
        lens.withColumn(
            "batch_id", ((F.row_number().over(w) - 1) / 8).cast("long")
        )
        .groupBy("batch_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.max("n_tokens").alias("batch_max_tokens"),
            F.sum("n_tokens").alias("batch_tokens"),
        )
    )
    got = {
        r["batch_id"]: (r["n_docs"], r["batch_max_tokens"], r["batch_tokens"])
        for r in length_bucketed_batches(docs, batch_size=8).collect()
    }
    want = {
        r["batch_id"]: (r["n_docs"], r["batch_max_tokens"], r["batch_tokens"])
        for r in ref.collect()
    }
    assert got == want
