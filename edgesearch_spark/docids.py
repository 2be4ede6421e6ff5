"""Deterministic, scalable docID assignment.

The reference bakes ranking into docID order: corpora are globally sorted by
a relevance prior before IDs are assigned by stream position
(demo/wiki/data/processor/src/main.rs:54-56, demo/jobs/data/get-data.js:17-18,
src/data/documents.rs:25-27). We need the same total order, but a
``row_number() OVER (ORDER BY ...)`` with no partition key collapses to a
single partition — a non-starter at 10^12 rows.

Scalable pattern (two cheap passes, no global single-partition stage):

1. ``repartitionByRange`` on the order keys → ordered, disjoint key ranges
   per partition; ``sortWithinPartitions`` sorts inside each.
2. Count rows per partition (small aggregate, one row per partition),
   prefix-sum the counts on the driver → per-partition base offset.
3. Per-partition rank (position within the sorted partition, read off
   ``monotonically_increasing_id``'s low bits — no window, no extra
   exchange) + base offset = global rank.

The result is invariant to where the range boundaries fall (ranks are
order-determined, not boundary-determined), so the same input yields the
same docIDs at any parallelism — asserted in tests.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_frame


def assign_doc_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    num_partitions: int | None = None,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Add a dense 0-based ``doc_id`` following the total order of ``order_cols``.

    ``order_cols`` must be a unique key (ties would make the order — and hence
    docIDs — nondeterministic); the caller guarantees this, e.g.
    (repo, path, commit).
    """
    from pyspark import StorageLevel

    cols = list(order_cols)
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    # CRITICAL: persist before the two passes. repartitionByRange samples its
    # boundaries per *action* (the sampler seed involves the new RDD id), so
    # without a materialization barrier pass 1's offsets and pass 2's ranks
    # could come from different partitionings → duplicate/holey docIDs. The
    # cache pins one partitioning for both passes; the caller unpersists via
    # the returned frame's `_docid_cache` handle after its terminal action.
    with_pid = ranged.withColumn("__pid", F.spark_partition_id()).persist(StorageLevel.MEMORY_AND_DISK)
    # Pass 1: rows per partition. Range partitions are ordered by pid, so the
    # prefix sum over pid order is the base offset of each partition.
    counts = {r["__pid"]: r["cnt"] for r in with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    off_df = local_frame(spark, offsets or [(0, 0)], "__pid int, __base long")
    # Pass 2: partition-local rank + broadcast-joined base offset. The rank
    # is the row's POSITION within its (sorted, cached) partition — read
    # straight off monotonically_increasing_id's low 33 bits instead of a
    # row_number window: the window's ClusteredDistribution(__pid) is
    # trivially satisfied (each partition holds exactly one pid) but
    # Catalyst cannot see that and inserted a full hash(__pid) Exchange +
    # Sort of the entire corpus — one of three content shuffles in the
    # docs stage, and pure waste. The id's order matches the window's
    # (rows stream in sorted partition order from the cache; recomputation
    # after block loss replays the same deterministic sort). The offsets
    # table has one row per partition — always broadcastable.
    out = (
        with_pid.withColumn(
            "__rk", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(doc_id_col, (F.col("__base") + F.col("__rk")).cast("long"))
        .drop("__pid", "__rk", "__base")
    )
    out._docid_cache = with_pid  # caller: out._docid_cache.unpersist() when done
    out._docid_range_partitioned = True  # partition p == docID range [base_p, base_p+cnt_p)
    return out
