"""Token-budget sequence packing for training-data pipelines.

An LLM corpus is written out as fixed-token-budget shards (a shard feeds one
training sequence / file); the assignment must be a deterministic function of
the global document order so re-runs (and the DuckDB oracle) agree exactly.
The core primitive is a distributed prefix sum over a total order — the same
range-partition + per-partition-aggregate + offset-broadcast shape as
``operators.snm.global_rank`` (which is the count-valued special case) —
optionally RESET per group (e.g. one independent token stream per
train/val/test split), so multi-group packing is one pass, not one pass per
group.

Scale shape: one range-exchange shuffle, one per-partition sort, and an
offset table of ``partitions × groups`` rows collected to the driver and
broadcast back (``group_cols`` must therefore be low-cardinality — splits,
languages, shard families; never a per-document key). Nothing driver-side
grows with the row count, and no single-partition window exists anywhere
(the naive ``Window.orderBy(...)`` with no partitionBy funnels the whole
table through one task — the exact anti-pattern this module replaces).

Cache note: the range-partitioned projection is persisted because the
offset census and the output plan must see the SAME sampled partition cuts.
Spark's CacheManager keys cache entries by canonicalized plan, so repeated
calls over the same input reuse one entry rather than accumulating.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from levenshtein_spark.session import local_frame, scoped_persist


def global_prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str | list[str],
    out_col: str | list[str] = "cum",
    group_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append the inclusive running sum of ``value_col`` under the total
    order ``group_cols + order_cols``, restarting at every group boundary
    (no groups = one global stream). ``order_cols`` must be unique per row
    within its group (append a unique id as the last column) — uniqueness
    makes the result independent of where the range partitioner cuts.

    ``value_col``/``out_col`` may be parallel lists: every stream shares the
    ONE range exchange, per-partition sort, and offset census (a consumer
    needing both a running total and a running rank pays one shuffle, not
    two).

    Driver-side data: one (partition, group, sums) row per partition×group.
    """
    group_cols = group_cols or []
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(value_cols) != len(out_cols):
        raise ValueError("value_col and out_col must have the same length")
    dtypes = dict(df.dtypes)
    # integral only: a float prefix sum cannot be cut-independent (float
    # addition is not associative), so truncating offsets would silently
    # produce partitioning-dependent results — refuse instead
    for vc in value_cols:
        if dtypes[vc] not in ("bigint", "int", "smallint", "tinyint"):
            raise ValueError(
                f"value_col must be an integral type, got {dtypes[vc]} — "
                "float prefix sums are not partitioning-independent"
            )
    cols = [F.col(c) for c in [*group_cols, *order_cols]]
    part = df.repartitionByRange(*([num_partitions] if num_partitions else []), *cols)
    part = part.withColumn("_pid", F.spark_partition_id())
    # outlives every evaluation of the returned plan: released once, after the query materializes
    part = part.transform(scoped_persist)
    rows = part.groupBy("_pid", *group_cols).agg(
        *[F.sum(vc).alias(f"_s{i}") for i, vc in enumerate(value_cols)]
    ).collect()
    # offsets: for each group, the sum of that group's values in EARLIER
    # partitions (range partitioning keeps each group's rows contiguous,
    # but a group may span a cut, hence per-(pid, group) accounting)
    acc: dict = {}
    offsets = []
    for r in sorted(rows, key=lambda r: r["_pid"]):
        key = tuple(r[c] for c in group_cols)
        prev = acc.get(key, [0] * len(value_cols))
        offsets.append((r["_pid"], *key, *prev))
        acc[key] = [
            p + int(r[f"_s{i}"] or 0) for i, p in enumerate(prev)
        ]
    schema_groups = "".join(
        f", _og_{i} {dtypes[c]}" for i, c in enumerate(group_cols)
    )
    schema_offsets = "".join(f", _offset_{i} long" for i in range(len(value_cols)))
    off = local_frame(df.sparkSession, offsets, f"_opid int{schema_groups}{schema_offsets}")
    # null-safe join on the group columns: a NULL group value is a real
    # group (an equi-join would silently drop every such row)
    cond = F.col("_pid") == F.col("_opid")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_og_{i}"))
    w = Window.partitionBy("_pid", *group_cols).orderBy(*[F.col(c) for c in order_cols])
    out = part.join(F.broadcast(off), cond)
    for i, (vc, oc) in enumerate(zip(value_cols, out_cols)):
        out = out.withColumn(oc, F.sum(vc).over(w) + F.col(f"_offset_{i}"))
    return out.drop(
        "_pid",
        "_opid",
        *[f"_offset_{i}" for i in range(len(value_cols))],
        *[f"_og_{i}" for i in range(len(group_cols))],
    )


def pack_by_budget(
    df: DataFrame,
    order_cols: list[str],
    tokens_col: str,
    budget: int,
    shard_col: str = "shard_id",
    group_cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign each row to a token-budget shard by its START offset in the
    ordered token stream (per group when ``group_cols`` is given — e.g. one
    independent shard sequence per split): ``shard = floor((cum - tokens) /
    budget)``.

    Start-offset packing is the streaming-friendly convention (a document
    never moves a later document's shard backwards) and is exactly
    reproducible in ANSI SQL as ``floor((sum(t) OVER (PARTITION BY groups
    ORDER BY ...) - t) / budget)``, which is what the driver oracle runs.
    Documents longer than the budget simply span shards conceptually; the
    assignment stays deterministic.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    out = global_prefix_sum(
        df, order_cols, tokens_col, out_col="_cum",
        group_cols=group_cols, num_partitions=num_partitions,
    )
    return out.withColumn(
        shard_col,
        F.floor((F.col("_cum") - F.col(tokens_col)) / F.lit(budget)).cast("long"),
    ).drop("_cum")
