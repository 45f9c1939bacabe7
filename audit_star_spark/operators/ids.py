"""Gapless monotone sequence assignment — the Spark answer to the
reference's ``nextval(seq)`` (audit.go:855–867, 881; SURVEY §7 hard part 1).

``monotonically_increasing_id`` alone is neither gapless nor stable, and a
global ``row_number()`` window funnels the whole dataset through ONE
partition — a non-starter at 100 TB. The scale path is the classic
two-pass zipWithIndex scheme, kept entirely JVM-side:

1. range-partition + sort by a total-order key (global order then equals
   the sort order regardless of partition boundaries), persist to freeze
   the partitioning;
2. count rows per partition (tiny metadata collect) -> cumulative bases;
3. local row index = ``monotonically_increasing_id() - (pid << 33)``
   (mid is defined as ``pid * 2^33 + row-index-in-partition``), so
   ``id = base[pid] + local_index``, with ``base[pid]`` looked up in ONE
   array literal (``element_at(array(b0, b1, ...), pid + 1)``) — a narrow
   projection: no join, no broadcast, no Python workers. The array folds
   to a single literal that generated code references rather than
   inlines, so a new set of bases reuses the compiled class.

The staged frame of pass 1 is persisted. A caller of ``gapless_ids``
that passes a ``staged`` list receives it there and unpersists it after
consuming the result, so a capture micro-batch leaves nothing cached;
otherwise (and always for ``prefix_sums``) it stays cached for the
session.

Determinism: with a *total* order key (unique tie-breaker) the ids equal
``row_number() over (order by key)`` exactly, independent of partition
boundaries or cluster size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from audit_star_spark.util import qcol

_MID_PARTITION_SHIFT = 33  # monotonically_increasing_id: pid * 2^33 + local


def _stage(df: DataFrame, staged: list | None) -> DataFrame:
    """Persist the range-partitioned staging frame: the per-partition
    metadata job (pass 1) and the output job (pass 2) must observe the SAME
    partitions and row order. At real scale this would be a write to
    scratch storage; persist suffices."""
    df = df.persist()
    if staged is not None:
        staged.append(df)
    return df


def _base_lookup(per_partition: dict, num_partitions: int, start: int) -> Column:
    """``base[__pid]``: the exclusive running total of ``per_partition``
    (pid -> count or sum) from ``start``, as one array literal indexed by
    the partition id. Every pid below ``num_partitions`` gets an entry
    (empty partitions included), so the lookup never falls off the end."""
    bases, acc = [], start
    for pid in range(num_partitions):
        bases.append(acc)
        acc += int(per_partition.get(pid, 0))
    table = F.array(*map(F.lit, bases)).cast("array<bigint>")
    return F.element_at(table, F.col("__pid") + 1)


def gapless_ids(
    df: DataFrame,
    order_by: list[str],
    id_col: str = "audit_id",
    start: int = 1,
    mode: str = "distributed",
    num_partitions: int | None = None,
    staged: list | None = None,
) -> DataFrame:
    """Assign a gapless, monotone id following the total order ``order_by``.

    ``order_by`` must be a total order (include a unique tie-breaker);
    otherwise ids are still gapless but tie order is partition-dependent.

    mode='distributed' (default): two-pass JVM scheme above — no global
    funnel, scales with partition count.
    mode='window': single global window; only for small inputs/tests.

    ``staged``: receives the persisted staging frame, for the caller to
    unpersist after consuming the result.
    """
    if mode == "window":
        w = Window.orderBy(*[qcol(c) for c in order_by])
        return df.withColumn(id_col, F.row_number().over(w) + F.lit(start - 1))

    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = _stage(
        df.repartitionByRange(num_partitions, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__mid", F.monotonically_increasing_id()),
        staged,
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in part.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    base = _base_lookup(counts, num_partitions, start)
    local_idx = F.col("__mid") - F.shiftleft(F.col("__pid").cast("long"), _MID_PARTITION_SHIFT)
    return part.withColumn(id_col, base + local_idx).drop("__pid", "__mid")


def prefix_sums(
    df: DataFrame,
    value_col: str,
    order_by: list[str],
    out: str = "offset",
    mode: str = "distributed",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value_col`` along the total order
    ``order_by`` (row's offset = sum of all strictly-earlier values) —
    the same two-pass scheme as :func:`gapless_ids`, generalized from
    counting rows to summing a column: a global running-sum window
    would funnel everything through one partition, so pass 1 collects
    ONE sum per partition (bounded metadata) into cumulative bases and
    pass 2 adds a WITHIN-partition running sum (the window is keyed on
    the partition id, so no Exchange SinglePartition appears — each
    window group is one already-sorted partition).

    Determinism: with a total ``order_by`` the result equals
    ``sum(value) over (order by ... rows between unbounded preceding
    and 1 preceding)`` exactly — integer values only (float prefix
    sums would depend on fold order)."""
    if mode == "window":
        w = (
            Window.orderBy(*[qcol(c) for c in order_by])
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return df.withColumn(
            out, F.coalesce(F.sum(value_col).over(w), F.lit(0)).cast("long")
        )

    num_partitions = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = _stage(
        df.repartitionByRange(num_partitions, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id()),
        None,
    )
    sums = {
        r["__pid"]: r["s"]
        for r in part.groupBy("__pid")
        .agg(F.coalesce(F.sum(value_col), F.lit(0)).alias("s"))
        .collect()
    }  # bounded: one row per partition
    base = _base_lookup(sums, num_partitions, 0)
    wl = (
        Window.partitionBy("__pid")
        .orderBy(*[qcol(c) for c in order_by])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(value_col).over(wl), F.lit(0))
    return part.withColumn(out, (base + local).cast("long")).drop("__pid")
