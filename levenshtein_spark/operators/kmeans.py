"""Deterministic distributed Lloyd's k-means — ANN codebook training.

Round-3 addition (VERDICT r02 #3): the IVF coarse quantizer and the PQ
sub-codebooks were deterministic formula constants (the K lowest vec_ids);
on clustered, anisotropic embedding distributions untrained codebooks waste
most cells. This trainer runs real Lloyd's iterations with a bit-exact
cross-engine contract, so the driver's DuckDB oracle can re-derive the SAME
trained centroids from the same parquet (no data-dependent constants in the
oracle string):

* **assignment** is distributed: broadcast the K centroids (literal rows),
  score every vector with the fixed-order L2 objective
  ``dot(x, c) - 0.5·||c||²`` (left-fold float sums — the repo's standard
  vector parity discipline), argmax via map-side ``max(struct)``, ties to
  the lower cid;
* **update** is an integer reduction: each dimension is quantized once to
  ``round(x·Q)`` (correctly-rounded multiply+round, identical in both
  engines), per-cell sums are exact integers (order-free — float means
  would depend on row order and break parity), and the new centroid value
  is the single correctly-rounded divide ``s / (n·Q)``;
* per-iteration driver traffic is the K×(dim+1) sufficient statistic (the
  bounded-collect EM pattern of er_eval's ``fs_em`` — never the data);
* empty cells keep their previous centroid.

Induction gives bit-identical centroids across engines: identical doubles →
identical comparisons → identical assignments → identical integer sums →
identical divides. The iteration count is fixed (not convergence-tested) so
the oracle unrolls to a static CTE chain.

At 100-TB scale this is the FAISS recipe verbatim: train on a bounded
sample (pass a sampled ``vectors`` frame), then quantize the full corpus
with the broadcast codebook; assignment cost is O(N·K·d) map-side flops and
the only shuffle is the K-row aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from levenshtein_spark.session import local_frame

QUANT = 1_000_000


def l2_score(vec_col, cent_col):
    """Fixed-order L2 assignment objective: argmin ||x-c||² == argmax
    dot(x,c) - 0.5·||c||² (the ||x||² term is constant per row). Left-fold
    sums; one multiply and one subtract — all correctly rounded, so the
    DuckDB twin reproduces the double exactly."""
    from levenshtein_spark.functions.vectors import dot

    c = F.col(cent_col) if isinstance(cent_col, str) else cent_col
    normsq = F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v)
    return dot(vec_col, c) - (F.lit(0.5) * normsq)


def assign_cells(vectors: DataFrame, cent: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, cell) — nearest centroid per vector (L2 objective, ties to the
    lower cid) via broadcast + map-side max(struct). ``cent(cid, cvec)``."""
    scored = vectors.crossJoin(F.broadcast(cent)).select(
        F.col(id_col).alias("id"), "cid", l2_score(F.col(vec_col), F.col("cvec")).alias("s")
    )
    return (
        scored.groupBy("id")
        .agg(F.max(F.struct(F.col("s"), (-F.col("cid")).alias("nc"))).alias("m"))
        .select(F.col("id").alias(id_col), (-F.col("m.nc")).alias("cell"))
    )


def train_subspace_centroids(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    subdim: int,
    m_sub: int,
    iters: int = 2,
    quant: int = QUANT,
) -> dict[int, list[tuple[int, list[float]]]]:
    """All ``m_sub`` product-quantization sub-codebooks trained TOGETHER:
    bit-identical to calling :func:`train_centroids` on each ``subdim``-wide
    slice independently (same init, same fixed-order L2 argmax with ties to
    the lower cid, same integer-quantized sums and correctly-rounded
    divides — so the per-subspace DuckDB twins still re-derive the exact
    centroids), but with ONE corpus pass per iteration instead of M.

    At scale this is the difference that matters: per iteration, one
    posexploded (id, m, slice) scan + one (id, m)-keyed argmax + one
    ``m_sub × k``-row sufficient statistic, versus M full scans and M
    driver round-trips. Returns ``{m: [(cid, cvec)] * k}``.
    """
    spark = vectors.sparkSession
    init = (
        vectors.where(F.col(id_col) < k)
        .select(F.col(id_col).cast("long"), vec_col)
        .collect()
    )
    if len(init) < k:
        raise ValueError(
            f"codebook init needs ids 0..{k - 1} present in the training frame "
            f"(got {len(init)}); when training on a sample, reassign ids first "
            "(e.g. row_number over a deterministic order)"
        )
    init_rows = sorted((int(r[0]), [float(x) for x in r[1]]) for r in init)
    cents: dict[int, list[tuple[int, list[float]]]] = {
        m: [(cid, full[m * subdim : (m + 1) * subdim]) for cid, full in init_rows]
        for m in range(m_sub)
    }
    slices = F.array(
        *[F.slice(F.col(vec_col), m * subdim + 1, subdim) for m in range(m_sub)]
    )
    subs = vectors.select(
        F.col(id_col).alias("id"), F.posexplode(slices).alias("m", "xv")
    )
    qcols = [
        F.sum(
            F.round(F.element_at(F.col("xv"), i + 1).cast("double") * F.lit(float(quant)))
            .cast("long")
        ).alias(f"s{i}")
        for i in range(subdim)
    ]
    for _ in range(iters):
        cb = local_frame(
            spark,
            [(m, cid, cv) for m, rows in cents.items() for cid, cv in rows],
            "m int, cid long, cvec array<double>",
        )
        scored = subs.join(F.broadcast(cb), "m").select(
            "id", "m", "cid", "xv", l2_score(F.col("xv"), F.col("cvec")).alias("s")
        )
        assign = (
            scored.groupBy("id", "m")
            .agg(
                F.max(F.struct(F.col("s"), (-F.col("cid")).alias("nc"))).alias("mx"),
                F.first("xv").alias("xv"),  # xv is constant within the group
            )
            .select("m", (-F.col("mx.nc")).alias("cell"), "xv")
        )
        stats = assign.groupBy("m", "cell").agg(F.count(F.lit(1)).alias("n"), *qcols).collect()
        updated = {
            (int(r["m"]), int(r["cell"])): [r[f"s{i}"] / (r["n"] * quant) for i in range(subdim)]
            for r in stats
        }
        cents = {
            m: [(cid, updated.get((m, cid), old)) for cid, old in rows]
            for m, rows in cents.items()
        }
    return cents


def train_centroids(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    dim: int,
    iters: int = 2,
    quant: int = QUANT,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means, returning ``[(cid, [float]*dim), ...]`` (len k).

    Init: the vectors of the ``k`` lowest ids (deterministic, matching the
    r02 formula codebook at iteration 0). Each iteration: distributed
    assignment + exact integer per-cell sums; centroid = s/(n·quant)
    computed driver-side (Python int/int division is the same correctly-
    rounded IEEE divide DuckDB performs on the same exact integers).
    """
    spark = vectors.sparkSession
    init = (
        vectors.where(F.col(id_col) < k)
        .select(F.col(id_col).cast("long"), vec_col)
        .collect()
    )
    if len(init) < k:
        raise ValueError(
            f"codebook init needs ids 0..{k - 1} present in the training frame "
            f"(got {len(init)}); when training on a sample, reassign ids first "
            "(e.g. row_number over a deterministic order)"
        )
    cents: list[tuple[int, list[float]]] = sorted(
        (int(r[0]), [float(x) for x in r[1]]) for r in init
    )
    qcols = [
        F.sum(
            F.round(F.element_at(F.col(vec_col), i + 1).cast("double") * F.lit(float(quant)))
            .cast("long")
        ).alias(f"s{i}")
        for i in range(dim)
    ]
    for _ in range(iters):
        cent_df = local_frame(spark, cents, "cid long, cvec array<double>")
        assign = assign_cells(vectors, cent_df, id_col, vec_col)
        stats = (
            assign.join(vectors.select(id_col, vec_col), id_col)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"), *qcols)
            .collect()
        )
        updated = {
            int(r["cell"]): [r[f"s{i}"] / (r["n"] * quant) for i in range(dim)]
            for r in stats
        }
        cents = [(cid, updated.get(cid, old)) for cid, old in cents]
    return cents
