"""Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD'95).

The third classic ER candidate-generation family next to key blocking
(operators/blocking.py) and LSH (functions/hashing.py): sort all records by
a domain sorting key and emit every pair that falls within a sliding window
of ``w`` consecutive rows. Cost is O(N·w) pairs regardless of block-size
skew — its selling point over key blocking when one key value is huge —
at the price of probabilistic recall (a matching pair further than ``w``
positions apart in sort order is missed; classic mitigation is multi-pass
over several sorting keys, which composes here as a union of
``sorted_neighborhood_pairs`` calls).

Spark-first layout (no single-partition window, no mapPartitions):

1. ``global_rank`` — total-order position via range repartitioning +
   per-partition ``row_number`` + partition-offset prefix sums. The only
   driver-side data is one count per partition (bounded by the partition
   count, never by the data).
2. window pairing as an equi-join — bucket ``floor(pos / (w-1))``; a pair
   with position gap in [1, w-1] spans at most one bucket boundary, so the
   left side replicated to buckets {b, b+1} meets its right side exactly
   once. No dedup shuffle, no range-join fallback to BroadcastNestedLoop.

The reference has no blocking at all (its benchmark is the full N² loop,
tests/benchmark.cpp:305-383); this operator is one of the ways the engine
replaces that loop at 10^12-file scale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from levenshtein_spark.session import local_frame, scoped_persist


def global_rank(
    df: DataFrame, order_cols: list[str], pos_col: str = "pos", num_partitions: int | None = None
) -> DataFrame:
    """Append a 0-based global position under the total order ``order_cols``.

    ``order_cols`` must be a unique tuple per row (append a unique id as the
    last column) — uniqueness makes the rank independent of where the range
    partitioner happens to cut, so the result is deterministic across runs
    and cluster sizes.

    Scale shape: one range-exchange shuffle, one per-partition sort window,
    and a partition-count-sized offset table broadcast back. Nothing
    driver-side grows with the row count.
    """
    cols = [F.col(c) for c in order_cols]
    part = df.repartitionByRange(*([num_partitions] if num_partitions else []), *cols)
    part = part.withColumn("_pid", F.spark_partition_id())
    # outlives every evaluation of the returned plan: released once, after the query materializes
    part = part.transform(scoped_persist)
    counts = sorted(
        (r["_pid"], r["count"]) for r in part.groupBy("_pid").count().collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off = local_frame(df.sparkSession, offsets, "_pid int, _offset long")
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        part.join(F.broadcast(off), "_pid")
        .withColumn(pos_col, F.row_number().over(w) - 1 + F.col("_offset"))
        .drop("_pid", "_offset")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    order_cols: list[str],
    window: int,
    id_col: str = "id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Candidate pairs within a sliding window of ``window`` rows in sort
    order → ``(id_a, id_b, gap)`` with ``id_a`` the earlier row and
    ``gap ∈ [1, window-1]`` its position distance.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    width = window - 1
    # persist the slim (id, pos) projection: both join sides consume it, and
    # without the cache each side would repeat the rank's window sort
    ranked = (
        global_rank(df, order_cols, num_partitions=num_partitions)
        .select(F.col(id_col).alias("_rid"), "pos")
        .transform(scoped_persist)
    )
    bucket = F.floor(F.col("pos") / width)
    left = ranked.select(
        F.col("_rid").alias("id_a"),
        F.col("pos").alias("pos_a"),
        F.explode(F.array(bucket, bucket + 1)).alias("_bkt"),
    )
    right = ranked.select(
        F.col("_rid").alias("id_b"), F.col("pos").alias("pos_b"), bucket.alias("_bkt")
    )
    gap = F.col("pos_b") - F.col("pos_a")
    return (
        left.join(right, "_bkt")
        .where((gap >= 1) & (gap <= width))
        .select("id_a", "id_b", gap.alias("gap"))
    )
