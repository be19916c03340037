"""Closest-match search — the Spark re-expression of ``min_edit_dist*``.

The reference's ``min_edit_dist(_t)`` / ``min_similarity_t`` carry mutable
cross-row state (the best distance seen so far tightens the cap:
src/min_edit_dist_t.cpp:76-83,141-144,310, ≈2/3 of the runtime saved,
doc/Benchmarks.md:25) and are explicitly documented as order-dependent — only
the row achieving the query-global minimum is guaranteed accurate
(doc/Usage.md:173-176, ReadMe.md:42). That contract is an *arg-min
aggregation*, not a scalar column, so here it becomes one:
``groupBy(probe).agg(min(struct(dist, candidate)))`` — lexicographic struct
ordering reproduces the reference example's ``ORDER BY EditDist, Name asc``
tie-break.

:func:`min_edit_dist_t` keeps the mutable cap and needs no cross join. The
distinct probes are collected once and shipped to every task; the
candidate column is round-robined to one partition per core, and each
``mapInArrow`` task sorts its candidates in Spark's order (NULL first, then
bytes), scores probes × candidates on Arrow buffers in chunks of at most
``_CHUNK_PAIRS`` pairs, each pair capped at ``min(k, that probe's best so
far in the task)``, and emits one winner per probe. The arg-min then merges at most tasks × probes rows. An explicit
``repartition(n)`` is never coalesced by adaptive execution, so the scoring
runs on every core however small the candidate table is in bytes.

:func:`min_similarity_t` and :func:`top_k_matches` score the broadcast cross
join of :func:`_spread_cross` through the Arrow UDFs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import LongType, StructField, StructType

from levenshtein_spark.functions.distance import bounded_edit_dist_t, similarity_t_closest
from levenshtein_spark.kernel import _as_arrow, batch_edit_distance

# Pairs per kernel call in a closest-match task: bounds the task's
# temporaries, and each probe's cap tightens between calls.
_CHUNK_PAIRS = 50_000


def _spread_cross(probes: DataFrame, candidates: DataFrame, cand_col: str) -> DataFrame:
    """``candidates[cand_col]`` × broadcast ``probes``, in
    ``defaultParallelism`` partitions. The one extra shuffle moves only the
    candidate column; the arg-min / rank reductions downstream do not depend
    on partitioning, and the adaptive similarity twin's contract holds per
    batch."""
    n = candidates.sparkSession.sparkContext.defaultParallelism
    return candidates.select(cand_col).repartition(n).crossJoin(F.broadcast(probes))


def _best_per_probe(
    probes: pa.Array, cands: pa.Array, k: int, transpositions: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Per probe, ``(dist, index)`` of its closest candidate in ``cands``
    (sorted in Spark order, so the lowest index wins a tie) — the
    reference's scan with its best-so-far cap. Candidate blocks are scored
    in order, each pair capped at ``min(k, the probe's best so far)``: a
    capped pair returns its exact bounded distance when that is within the
    cap and ``cap + 1`` (more than the best so far) otherwise, so every
    winner and every tie of it is exact."""
    n_p, n_c = len(probes), len(cands)
    dist = np.full(n_p, np.iinfo(np.int64).max)
    win = np.zeros(n_p, np.int64)
    c_step = max(1, _CHUNK_PAIRS // n_p)
    p_step = min(n_p, _CHUNK_PAIRS)
    for c0 in range(0, n_c, c_step):
        ci = np.arange(c0, min(n_c, c0 + c_step))
        for p0 in range(0, n_p, p_step):
            pi = np.arange(p0, min(n_p, p0 + p_step))
            rows = np.repeat(pi, ci.size)
            d = batch_edit_distance(
                probes.take(rows),
                cands.take(np.tile(ci, pi.size)),
                k=np.minimum(k, dist[rows]),
                transpositions=transpositions,
            ).reshape(pi.size, ci.size)
            j = d.argmin(1)  # first minimum: the lowest candidate index
            dj = d[np.arange(pi.size), j]
            better = dj < dist[pi]  # a tie keeps the earlier, lower candidate
            dist[pi[better]] = dj[better]
            win[pi[better]] = ci[j[better]]
    return dist, win


def _closest(
    probes: pa.Array,
    probe_field: StructField,
    candidates: DataFrame,
    cand_col: str,
    k: int,
    transpositions: bool,
) -> DataFrame:
    """:func:`min_edit_dist_t` over the distinct probe values ``probes``."""
    k = int(k)
    if k < 0:
        raise ValueError("maximum edit distance cannot be negative")
    cand_field = candidates.schema[cand_col]
    schema = StructType([probe_field, cand_field, StructField("dist", LongType())])

    def score(batches):
        cands = [b.column(0) for b in batches if b.num_rows]
        if not cands or not len(probes):
            return
        cands = pa.concat_arrays(cands)
        # Spark's string order: NULL first, then unsigned bytes
        order = pc.sort_indices(_as_arrow(cands), null_placement="at_start")
        cands = cands.take(order)
        dist, win = _best_per_probe(probes, cands, k, transpositions)
        yield pa.RecordBatch.from_arrays(
            [probes, cands.take(win), pa.array(dist)], names=schema.fieldNames()
        )

    n = candidates.sparkSession.sparkContext.defaultParallelism
    scored = candidates.select(cand_col).repartition(n).mapInArrow(score, schema)
    best = scored.groupBy(probe_field.name).agg(
        F.min(F.struct("dist", cand_col)).alias("b")
    )
    return best.select(
        probe_field.name, F.col(f"b.{cand_col}").alias(cand_col), F.col("b.dist").alias("dist")
    )


def min_edit_dist_t(
    probes: DataFrame,
    candidates: DataFrame,
    probe_col: str,
    cand_col: str,
    k: int,
    transpositions: bool = True,
) -> DataFrame:
    """For each distinct probe value, the closest candidate by bounded OSA
    distance (mirrors ``SELECT ... ORDER BY min_edit_dist(...) LIMIT 1``,
    doc/Usage.md:178-189; ties break on the candidate ascending, NULL
    first). ``transpositions=False`` gives bounded Levenshtein (reference
    ``min_edit_dist``).

    The distinct probe values are collected when this is called and shipped
    with every task — the reference's use case is a handful of probe
    strings against a large table, and the candidate table never moves to
    the probes. See the module docstring for the per-task scan.
    """
    return _closest(
        pc.unique(probes.select(probe_col).toArrow().column(0)),
        probes.schema[probe_col],
        candidates,
        cand_col,
        k,
        transpositions,
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
    transpositions: bool = True,
) -> DataFrame:
    """Two-pass iterative deepening over :func:`min_edit_dist_t`.

    Pass 1 scores every probe at a small cap ``k0`` (narrow band = cheap
    DP). Probes whose minimum came back ``<= k0`` are already exact — the
    bounded kernel returns true distances up to its cap, and a value
    ``<= k0 <= k`` cannot be beaten by any pair the narrow band rejected.
    Only probes whose pass-1 minimum hit the ``k0+1`` ceiling are rescored
    at the full cap ``k``. Pass 1 (at most one row per probe) is collected
    once, here, and both branches of the result are built from it.

    ``k0`` is clamped to ``k``: with ``k0 >= k`` a single pass at cap ``k``
    already yields the exact bounded-k result (and pass-1 winners at a cap
    wider than ``k`` could otherwise differ from the bounded-k tie-break).
    """
    k0 = min(k0, k)
    first = min_edit_dist_t(probes, candidates, probe_col, cand_col, k0, transpositions)
    if k0 == k:
        return first
    got = first.toArrow()
    near = pc.less_equal(got.column("dist"), k0)
    resolved = candidates.sparkSession.createDataFrame(got.filter(near), first.schema)
    far = got.filter(pc.invert(near)).column(probe_col).combine_chunks()
    second = _closest(far, probes.schema[probe_col], candidates, cand_col, k, transpositions)
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
