"""Closest-match search — the Spark re-expression of ``min_edit_dist*``.

The reference's ``min_edit_dist(_t)`` / ``min_similarity_t`` carry mutable
cross-row state (the best distance seen so far tightens the cap:
src/min_edit_dist_t.cpp:76-83,141-144,310) and are explicitly documented as
order-dependent — only the row achieving the query-global minimum is
guaranteed accurate (doc/Usage.md:173-176, ReadMe.md:42). That contract is an
*arg-min aggregation*, not a scalar column, so here it becomes one:
``groupBy(probe).agg(min(struct(dist, candidate)))`` — lexicographic struct
ordering reproduces the reference example's ``ORDER BY EditDist, Name asc``
tie-break, and the aggregation combines map-side in every task (no
single-partition-per-probe window sort).

Every operator scores the same cross join (:func:`_spread_cross`): the
candidate column, round-robined to one partition per core, against the
broadcast probes. A candidate table is usually small in bytes, so adaptive
execution would coalesce it to one partition and the cross join — probes ×
candidates kernel calls — would inherit that single task; an explicit
``repartition(n)`` is never coalesced, so the Arrow UDF runs on every core.

The reference's adaptive-cap speedup (≈2/3 runtime, doc/Benchmarks.md:25) is
recovered differently at scale: *iterative deepening* — score every probe at
a small cap first and only escalate the probes whose minimum hit the cap.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from levenshtein_spark.functions.distance import (
    bounded_edit_dist,
    bounded_edit_dist_closest,
    bounded_edit_dist_t,
    similarity_t,
    similarity_t_closest,
)

# The two catalog scorers get the within-batch adaptive-cap twin when they
# feed an arg-min (the reference's cross-row mutable cap,
# src/min_edit_dist_t.cpp:141-144,310): losing rows may return clamped
# values, which the groupBy-min drops. Custom dist_fns score verbatim.
_ADAPTIVE_TWIN = {id(bounded_edit_dist_t): True, id(bounded_edit_dist): False}


def _spread_cross(probes: DataFrame, candidates: DataFrame, cand_col: str) -> DataFrame:
    """``candidates[cand_col]`` × broadcast ``probes``, in
    ``defaultParallelism`` partitions. The one extra shuffle moves only the
    candidate column; the arg-min / rank reductions downstream do not depend
    on partitioning, and the adaptive twins' contract holds per batch."""
    n = candidates.sparkSession.sparkContext.defaultParallelism
    return candidates.select(cand_col).repartition(n).crossJoin(F.broadcast(probes))


def min_edit_dist_t(
    probes: DataFrame,
    candidates: DataFrame,
    probe_col: str,
    cand_col: str,
    k: int,
    dist_fn=bounded_edit_dist_t,
) -> DataFrame:
    """For each probe row, the closest candidate by bounded OSA distance
    (mirrors ``SELECT ... ORDER BY min_edit_dist(...) LIMIT 1``,
    doc/Usage.md:178-189; ties break on the candidate string ascending).

    ``probes`` is broadcast — the reference's use case is a handful of probe
    strings against a large table, so the cross join must never move the
    candidate table to the probes. Its candidate column is round-robined to
    ``defaultParallelism`` partitions first, so the scoring runs one task per
    core however few partitions ``candidates`` arrives in. Pass
    ``dist_fn=bounded_edit_dist`` for the no-transpositions variant
    (reference ``min_edit_dist``).
    """
    tr = _ADAPTIVE_TWIN.get(id(dist_fn))
    dist = (
        bounded_edit_dist_closest(probe_col, cand_col, k, transpositions=tr)
        if tr is not None
        else dist_fn(probe_col, cand_col, k)
    )
    scored = _spread_cross(probes, candidates, cand_col).select(
        probe_col, cand_col, dist.alias("dist")
    )
    best = scored.groupBy(probe_col).agg(F.min(F.struct("dist", cand_col)).alias("b"))
    return best.select(
        probe_col, F.col(f"b.{cand_col}").alias(cand_col), F.col("b.dist").alias("dist")
    )


def min_similarity_t(
    probes: DataFrame,
    candidates: DataFrame,
    probe_col: str,
    cand_col: str,
    p: float,
) -> DataFrame:
    """For each probe row, the most similar candidate (reference
    ``min_similarity_t``): max similarity, ties on candidate ascending —
    arg-max via min(struct(-sim, candidate)). Scores through the
    adaptive-floor twin (the reference's mutable ``max_result``) — exact
    for the arg-max winner and its ties, which is all this returns."""
    scored = _spread_cross(probes, candidates, cand_col).select(
        probe_col, cand_col, similarity_t_closest(probe_col, cand_col, p).alias("sim")
    )
    best = scored.groupBy(probe_col).agg(
        F.min(F.struct((-F.col("sim")).alias("neg"), cand_col)).alias("b")
    )
    return best.select(
        probe_col,
        F.col(f"b.{cand_col}").alias(cand_col),
        (-F.col("b.neg")).alias("sim"),
    )


def min_edit_dist_t_deepening(
    probes: DataFrame,
    candidates: DataFrame,
    probe_col: str,
    cand_col: str,
    k: int,
    k0: int = 2,
    dist_fn=bounded_edit_dist_t,
) -> DataFrame:
    """Two-pass iterative deepening — the parallel re-expression of the
    reference's remember-the-closest adaptive cap (min_edit_dist_t.cpp:
    141-144,310; ≈2/3 runtime, doc/Benchmarks.md:25).

    Pass 1 scores every probe at a small cap ``k0`` (narrow band = cheap
    DP). Probes whose minimum came back ``<= k0`` are already exact — the
    bounded kernel returns true distances up to its cap, and a value
    ``<= k0 <= k`` cannot be beaten by any pair the narrow band rejected.
    Only probes whose pass-1 minimum hit the ``k0+1`` ceiling are rescored
    at the full cap ``k``. When most probes have a close match (the
    reference's own benchmark regime), the wide-band DP runs for almost no
    probe.

    ``k0`` is clamped to ``k``: with ``k0 >= k`` a single pass at cap ``k``
    already yields the exact bounded-k result (and pass-1 winners at a cap
    wider than ``k`` could otherwise differ from the bounded-k tie-break).
    """
    k0 = min(k0, k)
    if k0 == k:
        return min_edit_dist_t(probes, candidates, probe_col, cand_col, k, dist_fn)
    first = min_edit_dist_t(probes, candidates, probe_col, cand_col, k0, dist_fn)
    resolved = first.where(F.col("dist") <= k0)
    unresolved = first.where(F.col("dist") > k0).select(probe_col)
    second = min_edit_dist_t(unresolved, candidates, probe_col, cand_col, k, dist_fn)
    return resolved.unionByName(second)


def top_k_matches(
    probes: DataFrame,
    candidates: DataFrame,
    probe_col: str,
    cand_col: str,
    k: int,
    top: int = 10,
) -> DataFrame:
    """Top-N nearest candidates per probe by bounded OSA distance.

    Needs a rank, so this one stays a window; with a handful of probes the
    per-probe sort is the unavoidable cost of a ranked result.
    """
    scored = _spread_cross(probes, candidates, cand_col).select(
        probe_col, cand_col, bounded_edit_dist_t(probe_col, cand_col, k).alias("dist")
    )
    w = Window.partitionBy(probe_col).orderBy(F.col("dist").asc(), F.col(cand_col).asc())
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= top)
