"""Similarity search over the embeddings table (array<float>, dim 64).

* ``ann_cosine_topk`` — brute-force exact top-k: broadcast the probe set,
  JVM-side zip_with/aggregate dot products (no UDF), window arg-top-k.
  This is the correctness baseline.
* ``ann_lsh_buckets`` — random-hyperplane LSH bucket assignment (the scale
  path: candidate generation cost drops from O(N²) to O(N·B) with
  within-bucket brute force). Planes are derived from a portable md5 hash so
  DuckDB reproduces the buckets bit-for-bit.
* ``ann_bucket_topk`` — the composed scale path: exact cosine top-1 within
  each LSH bucket.

Floating-point parity: both engines cast float32→double and reduce the
64-dim lists sequentially left-to-right, so sums are bit-identical; scores
are rounded to 6 decimals anyway.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from levenshtein_spark.session import scoped_persist
from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.functions.vectors import banded_lsh_keys, cosine, dot, lsh_bucket

_N_PROBES = 10
_TOP_K = 5
_PLANES = 8
# banded-LSH shape for the driver-checked query: banded_params(n) at the
# correctness scale (sf0.01, ~500 vectors, target bucket 8) = (4, 6). Frozen
# here because the static DuckDB oracle must mirror the plane count; library
# callers size it from their N via functions.vectors.banded_params.
_B_TABLES = 4
_B_PLANES = 6
# IVF shape: K coarse cells, n_probe cells searched per query. At scale K ~
# sqrt(N) keeps assignment (O(N*K) map-side work) and per-cell search
# (O(N/K) rows) balanced; frozen small here for the static oracle.
_IVF_K = 16
_IVF_NPROBE = 4
# Codebook training (round 3, VERDICT r02 #3): fixed Lloyd's iterations with
# the exact-parity contract of operators/kmeans.py — the oracle re-derives
# the SAME trained centroids via an unrolled CTE chain, so no data-dependent
# constant ever enters the oracle string. Iteration count is frozen (not
# convergence-tested) precisely so the SQL unrolls statically.
_KM_ITERS = 2
_KM_QUANT = 1_000_000
_DIM = 64


def _trained_ivf_cent(e: DataFrame) -> DataFrame:
    from levenshtein_spark.operators.kmeans import train_centroids

    spark = e.sparkSession
    rows = train_centroids(
        e.select("vec_id", "embedding"), "vec_id", "embedding",
        _IVF_K, dim=_DIM, iters=_KM_ITERS, quant=_KM_QUANT,
    )
    return spark.createDataFrame(rows, "cid long, cvec array<double>")


def q_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the first 10 vectors (brute force)."""
    e = tbl(spark, sf, "embeddings")
    probes = e.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    scored = e.crossJoin(F.broadcast(probes)).where(F.col("vec_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def q_ann_lsh_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (8 sign bits)."""
    e = tbl(spark, sf, "embeddings")
    return e.select("vec_id", lsh_bucket(F.col("embedding"), _PLANES, seed=0).alias("bucket"))


def q_ann_bucket_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Scale path: exact cosine top-1 within each LSH bucket."""
    e = tbl(spark, sf, "embeddings").select(
        "vec_id", "embedding", lsh_bucket(F.col("embedding"), _PLANES, seed=0).alias("bucket")
    )
    l, r = e.alias("l"), e.alias("r")
    scored = (
        l.join(r, "bucket")
        .where(F.col("l.vec_id") != F.col("r.vec_id"))
        .select(
            F.col("l.vec_id").alias("query_id"),
            F.col("r.vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("l.embedding"), F.col("r.embedding")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")


def q_ann_banded_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Scale path v2: exact cosine top-1 among banded multi-table LSH
    candidates.

    Fixes the single-table 256-bucket ceiling (within-bucket work O(N²/256)
    regardless of N): ``banded_params`` sizes planes-per-table from N so
    buckets stay ~constant-size, and multiple tables recover the recall a
    longer single code loses. Candidate generation reuses the linkage
    pipeline's slim, hot-block-salted ``candidate_pairs`` (keys shuffle with
    vec_ids only — embeddings are re-attached per side afterwards), then
    mirrors the undirected pairs so every vector acts as a query.
    """
    from levenshtein_spark.operators.pairs import candidate_pairs

    e = tbl(spark, sf, "embeddings")
    blocks = e.select(
        F.explode(banded_lsh_keys("embedding", _B_TABLES, _B_PLANES, seed=0)).alias("block_key"),
        F.col("vec_id").alias("id"),
    )
    und = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    emb = e.select("vec_id", "embedding")
    # score each undirected pair ONCE (cosine is symmetric and the dominant
    # per-candidate cost), then mirror the scored rows for the per-query window
    scored_und = (
        und.join(emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")), "id_a")
        .join(emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")), "id_b")
        .select(
            "id_a", "id_b", F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_sim")
        )
    )
    # explode (not union) mirrors each scored row in the SAME plan branch —
    # a self-union would recompute the cosine join once per direction
    scored = scored_und.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id")),
                F.struct(F.col("id_b").alias("query_id"), F.col("id_a").alias("neighbor_id")),
            )
        ).alias("d"),
        "cos_sim",
    ).select("d.query_id", "d.neighbor_id", "cos_sim")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF (inverted-file) top-k: the second classic ANN scale family next
    to LSH — partition space into K coarse cells around a codebook, search
    only the ``n_probe`` cells nearest each query.

    The codebook is TRAINED (round 3): deterministic Lloyd's k-means seeded
    from the K lowest vec_ids — operators/kmeans.py's exact-parity trainer,
    whose integer-sum updates let the DuckDB twin re-derive bit-identical
    centroids from the same parquet. Scale shape: the codebook broadcasts
    (K rows); cell assignment is a broadcast join + map-side-combining
    argmax groupBy (the standard O(N·K) quantization cost, no shuffle wider
    than N rows); the probe step touches n_probe/K of the corpus per query
    instead of all of it; training itself is FAISS-style (bounded sample,
    K×(dim+1) sufficient statistic per iteration).
    """
    e = tbl(spark, sf, "embeddings")
    cent = _trained_ivf_cent(e)
    probes = e.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return ivf_topk(e, probes, cent, n_probe=_IVF_NPROBE, top_k=_TOP_K)


def ivf_topk(
    e: DataFrame, probes: DataFrame, cent: DataFrame, n_probe: int, top_k: int
) -> DataFrame:
    """IVF search core: ``e(vec_id, embedding)``, ``probes(query_id, q)``,
    ``cent(cid, cvec)`` → top-k per query among the ``n_probe`` probed cells."""
    # cell assignment: argmax over centroids via max(struct) — ties break to
    # the lower cid (cos identical ⇒ -cid larger for smaller cid)
    scored_cells = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        cosine(F.col("embedding"), F.col("cvec")).alias("ccos"),
    )
    assign = (
        scored_cells.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("ccos"), (-F.col("cid")).alias("ncid"))).alias("m"))
        .select("vec_id", (-F.col("m.ncid")).alias("cell"))
    )
    # probe lists for the query set: the n_probe nearest cells per query
    pw = Window.partitionBy("query_id").orderBy(F.col("pcos").desc(), "cid")
    probe_cells = (
        probes.crossJoin(F.broadcast(cent))
        .select("query_id", "q", "cid", cosine(F.col("q"), F.col("cvec")).alias("pcos"))
        .withColumn("prn", F.row_number().over(pw))
        .where(F.col("prn") <= n_probe)
        .select("query_id", "q", F.col("cid").alias("cell"))
    )
    # search the probed cells only: members via the inverted file (assign)
    members = assign.join(e.select("vec_id", "embedding"), "vec_id")
    cands = (
        probe_cells.join(members, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: cosine >= 0.25 among banded
    multi-table LSH candidates (the dedup family's vector-space member —
    candidate generation via LSH, verification via exact cosine).

    Round 2: moved off the fixed single-table 256-bucket scheme onto the
    scale-parameterized banded keys (see ``q_ann_banded_topk``) and the
    salted slim-pair operator; more tables also raise candidate recall at
    the 0.25 threshold vs the old single 8-plane code.
    """
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs

    e = tbl(spark, sf, "embeddings")
    blocks = e.select(
        F.explode(banded_lsh_keys("embedding", _B_TABLES, _B_PLANES, seed=0)).alias("block_key"),
        F.col("vec_id").alias("id"),
    )
    und = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    emb = e.select(F.col("vec_id").alias("id"), "embedding")
    fat = attach_pair_payload(und, emb, ["embedding"])
    return (
        fat.select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            F.round(cosine(F.col("embedding_a"), F.col("embedding_b")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.25)
    )


# Product quantization: M subspaces × K codewords; dim 64 → 4 × 16-dim subs.
# K = 16 arbitrary-deterministic codewords: planted-near-dup top-1 recall
# measured 0.975 on the current fixed-seed corpus (0.85 with the r02-era
# plant shape; 0.63 at K = 8), pinned >= 0.925 in tests/test_ann.py. On
# ISOTROPIC random
# vectors PQ's exact-top-k recall is inherently poor (tiny margins between
# unrelated neighbors — the PQ literature's motivating observation that it
# exploits correlated structure); the near-dup regime is the one this
# corpus's dedup/ANN tracks actually care about.
_PQ_M, _PQ_SUBDIM, _PQ_K = 4, 16, 16


def q_ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ADC top-k — the third classic ANN scale family
    next to LSH and IVF, attacking MEMORY instead of candidate count: each
    vector is stored as {_PQ_M} one-byte codes (argmax inner product
    against a per-subspace codebook), and query-to-vector inner product is
    approximated asymmetrically (ADC) as the sum of {_PQ_M} precomputed
    query-to-codeword partials — the scan reads 4 bytes per vector instead
    of 64 floats (16× compression here; 64-128× at production dims).

    The sub-codebooks are TRAINED (round 3): deterministic Lloyd's k-means
    per subspace, seeded from the {_PQ_K} lowest vec_ids' slices
    (operators/kmeans.py) — the twin re-derives the same centroids from the
    same parquet via an unrolled CTE chain. Exactness discipline:
    every dot product is the same left-fold in both engines, the ADC sum
    is parenthesized left-associatively via a 4-way column expression (a
    groupBy sum over the M partials would reorder float addition), and
    ranking uses the rounded score.

    Scale shape: encoding is a broadcast of the M×K codebook + map-side
    argmax (O(N·K·d/M) flops, no shuffle wider than the code table); the
    ADC table is queries×M×K (tiny, broadcast); the scan is N × {_PQ_M}
    broadcast-hash lookups — embarrassingly parallel, zero shuffle until
    the final per-query top-k (WindowGroupLimit).
    """
    e = tbl(spark, sf, "embeddings")
    probes = e.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    return pq_topk(e, probes, top_k=_TOP_K)


def _pq_sub(col, m):
    return F.slice(col, m * _PQ_SUBDIM + 1, _PQ_SUBDIM)


def _pq_cb_and_codes(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """TRAINED codebook ``(m, code, cvec)`` (persisted, broadcastable) and
    per-vector PQ code words ``(vec_id, c0..c{M-1})``.

    Round 3: each subspace's sub-codebook is Lloyd's-trained
    (operators/kmeans.py, seeded from the {_PQ_K} lowest vec_ids' slices —
    the r02 formula codebook is exactly iteration 0), with the integer-sum
    exact-parity contract so the DuckDB twin re-derives identical centroids.
    Encoding stays argmax inner product against the (now trained) codebook;
    the per-vector scan is ONE posexplode over the array of subspace slices
    (a per-m unionByName would re-scan the source M times). All {_PQ_M}
    sub-codebooks train in one fused pass per iteration
    (operators/kmeans.train_subspace_centroids — bit-identical to per-slice
    training, M× fewer corpus scans)."""
    from levenshtein_spark.operators.kmeans import train_subspace_centroids

    spark = e.sparkSession
    cents_by_m = train_subspace_centroids(
        e.select("vec_id", "embedding"), "vec_id", "embedding",
        _PQ_K, subdim=_PQ_SUBDIM, m_sub=_PQ_M, iters=_KM_ITERS, quant=_KM_QUANT,
    )
    cb_rows = [(m, cid, vec) for m, rows in cents_by_m.items() for cid, vec in rows]
    cb = spark.createDataFrame(cb_rows, "m int, code long, cvec array<double>").transform(scoped_persist)
    all_subs = F.array(*[_pq_sub(F.col("embedding"), m) for m in range(_PQ_M)])
    subs = e.select("vec_id", F.posexplode(all_subs).alias("m", "xv"))
    scored = subs.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "code", dot(F.col("xv"), F.col("cvec")).alias("d")
    )
    codes = (
        scored.groupBy("vec_id", "m")
        .agg(F.max(F.struct(F.col("d"), (-F.col("code")).alias("nc"))).alias("mx"))
        .select("vec_id", "m", (-F.col("mx.nc")).alias("code"))
    )
    codes_w = codes.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("code"))).alias(f"c{m}")
            for m in range(_PQ_M)
        ]
    )
    return cb, codes_w


def _pq_adc_rank(cand: DataFrame, probes: DataFrame, cb: DataFrame, top_k: int) -> DataFrame:
    """Rank a candidate table ``(query_id, vec_id, c0..c{M-1})`` by ADC.

    One (query_id, code, part_m) table per subspace — queries×K rows,
    broadcast; joining them as COLUMNS keeps the ADC sum's float-op order
    fixed (a groupBy sum over M rows would reorder the additions)."""
    for m in range(_PQ_M):
        t = probes.join(F.broadcast(cb.where(F.col("m") == m)), F.lit(True)).select(
            F.col("query_id").alias(f"q{m}"),
            F.col("code").alias(f"c{m}_k"),
            dot(_pq_sub(F.col("q"), m), F.col("cvec")).alias(f"part{m}"),
        )
        cand = cand.join(
            F.broadcast(t),
            (F.col("query_id") == F.col(f"q{m}")) & (F.col(f"c{m}") == F.col(f"c{m}_k")),
        )
    # left-associative ADC sum — fixed float-op order in both engines
    adc_sum = F.col("part0")
    for m in range(1, _PQ_M):
        adc_sum = adc_sum + F.col(f"part{m}")
    cand = cand.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(adc_sum, 6).alias("adc_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_score").desc(), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "adc_score", F.col("rank").cast("int").alias("rank"))
    )


def pq_topk(e: DataFrame, probes: DataFrame, top_k: int) -> DataFrame:
    """PQ-ADC search core (semantics in :func:`q_ann_pq_topk`; factored out
    so tests can plant near-duplicates): sub-codebooks Lloyd's-trained,
    seeded from the {_PQ_K} lowest vec_ids of ``e``; exhaustive ADC scan
    (every vector is a candidate for every query)."""
    cb, codes_w = _pq_cb_and_codes(e)
    cand = codes_w.join(F.broadcast(probes.select("query_id")), F.lit(True))
    return _pq_adc_rank(cand, probes, cb, top_k)


def q_ann_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF + PQ composed (FAISS's IVFADC — THE standard billion-scale ANN
    layout): the inverted file restricts each query to its ``n_probe``
    nearest coarse cells, and within those cells vectors are scored by the
    PQ asymmetric-distance lookup instead of full-precision dot products.
    The two knobs attack different costs — IVF cuts the CANDIDATE COUNT to
    n_probe/K of the corpus, PQ cuts the BYTES PER CANDIDATE 16× — and this
    query wires the repo's two existing oracle-exact implementations
    together unchanged (same deterministic codebooks, same tie rules, same
    fixed-order ADC float sum).

    Scale shape: everything before the final per-query top-k is broadcast
    joins and map-side aggregations over single scans; the candidate stream
    is (query, cell-member) pairs carrying only 4 code bytes each.
    """
    e = tbl(spark, sf, "embeddings")
    cent = _trained_ivf_cent(e)
    probes = e.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    cb, codes_w = _pq_cb_and_codes(e)

    # coarse cell assignment — identical rule to ivf_topk (argmax cosine,
    # ties to the lower cid)
    scored_cells = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", cosine(F.col("embedding"), F.col("cvec")).alias("ccos")
    )
    assign = (
        scored_cells.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("ccos"), (-F.col("cid")).alias("ncid"))).alias("m"))
        .select("vec_id", (-F.col("m.ncid")).alias("cell"))
    )
    pw = Window.partitionBy("query_id").orderBy(F.col("pcos").desc(), "cid")
    probe_cells = (
        probes.crossJoin(F.broadcast(cent))
        .select("query_id", "cid", cosine(F.col("q"), F.col("cvec")).alias("pcos"))
        .withColumn("prn", F.row_number().over(pw))
        .where(F.col("prn") <= _IVF_NPROBE)
        .select("query_id", F.col("cid").alias("cell"))
    )
    members = assign.join(codes_w, "vec_id")
    cand = probe_cells.join(members, "cell").select(
        "query_id", "vec_id", *[f"c{m}" for m in range(_PQ_M)]
    )
    return _pq_adc_rank(cand, probes, cb, _TOP_K)


def q_ann_ivfpq_residual_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the composition FAISS actually
    ships: PQ quantizes ``x − centroid(cell(x))`` instead of the raw
    vector. Residuals have far smaller variance than raw vectors (the
    coarse quantizer has already explained the cell-level structure), so
    the same 4×16 codebook budget spends its codewords on the fine detail
    — the standard accuracy upgrade over ``ann_ivfpq_topk``'s raw-vector
    encoding, kept alongside it so the two variants stay comparable.

    Scoring uses the inner-product decomposition
    ``dot(q, x) = dot(q, c) + dot(q, r)``: the exact ``dot(q, c)`` term
    rides the probe-cell table (n_probe rows per query), and the residual
    term is the usual ADC table lookup against the residual-trained
    codebook. All float ops stay fixed-order (left-fold dots, one
    left-associative 5-term sum), so the DuckDB twin — which re-derives
    the IVF centroids, the SAME residuals, and the residual-trained
    sub-codebooks through the unrolled Lloyd's CTE chains — reproduces the
    scores bit-for-bit.

    Scale shape: residual computation is one broadcast join + zip_with
    (no shuffle); training is the fused one-pass-per-iteration trainer;
    candidates carry 4 code bytes plus one double.
    """
    from levenshtein_spark.operators.kmeans import (
        assign_cells,
        l2_score,
        train_subspace_centroids,
    )

    e = tbl(spark, sf, "embeddings")
    cent = _trained_ivf_cent(e)
    # persisted: consumed by the residual build AND the probe-cell member
    # join — without it the O(N·K·d) assignment argmax runs twice
    cells = assign_cells(e, cent, "vec_id", "embedding").transform(scoped_persist)
    centc = cent.select(F.col("cid").alias("cell"), "cvec")
    resid = (
        cells.join(e, "vec_id")
        .join(F.broadcast(centc), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                "embedding", "cvec", lambda x, c: x.cast("double") - c
            ).alias("resid"),
        )
        .transform(scoped_persist)
    )
    cents_by_m = train_subspace_centroids(
        resid, "vec_id", "resid",
        _PQ_K, subdim=_PQ_SUBDIM, m_sub=_PQ_M, iters=_KM_ITERS, quant=_KM_QUANT,
    )
    cb = spark.createDataFrame(
        [(m, cid, cv) for m, rows in cents_by_m.items() for cid, cv in rows],
        "m int, code long, cvec array<double>",
    ).transform(scoped_persist)

    all_subs = F.array(
        *[F.slice(F.col("resid"), m * _PQ_SUBDIM + 1, _PQ_SUBDIM) for m in range(_PQ_M)]
    )
    subs = resid.select("vec_id", F.posexplode(all_subs).alias("m", "xv"))
    scored = subs.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "code", dot(F.col("xv"), F.col("cvec")).alias("d")
    )
    codes = (
        scored.groupBy("vec_id", "m")
        .agg(F.max(F.struct(F.col("d"), (-F.col("code")).alias("nc"))).alias("mx"))
        .select("vec_id", "m", (-F.col("mx.nc")).alias("code"))
    )
    codes_w = codes.groupBy("vec_id").agg(
        *[F.max(F.when(F.col("m") == m, F.col("code"))).alias(f"c{m}") for m in range(_PQ_M)]
    )

    probes = e.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    pscored = probes.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "cid",
        l2_score(F.col("q"), F.col("cvec")).alias("s"),
        dot(F.col("q"), F.col("cvec")).alias("qc"),
    )
    pw = Window.partitionBy("query_id").orderBy(F.col("s").desc(), "cid")
    probe_cells = (
        pscored.withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= _IVF_NPROBE)
        .select("query_id", F.col("cid").alias("cell"), "qc")
    )
    members = cells.join(codes_w, "vec_id")
    cand = probe_cells.join(members, "cell").select(
        "query_id", "vec_id", "qc", *[f"c{m}" for m in range(_PQ_M)]
    )
    for m in range(_PQ_M):
        t = probes.join(F.broadcast(cb.where(F.col("m") == m)), F.lit(True)).select(
            F.col("query_id").alias(f"q{m}"),
            F.col("code").alias(f"c{m}_k"),
            dot(_pq_sub(F.col("q"), m), F.col("cvec")).alias(f"part{m}"),
        )
        cand = cand.join(
            F.broadcast(t),
            (F.col("query_id") == F.col(f"q{m}")) & (F.col(f"c{m}") == F.col(f"c{m}_k")),
        )
    score = F.col("qc")
    for m in range(_PQ_M):
        score = score + F.col(f"part{m}")
    cand = cand.where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(score, 6).alias("adc_score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_score").desc(), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "adc_score", F.col("rank").cast("int").alias("rank"))
    )


_CELL_SAMPLE_R = 5


def q_kmeans_cells(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space cluster assignment: every vector's trained k-means
    cell (the IVF coarse quantizer exposed as a first-class operator —
    beyond the reference's scalar surface, a training-data-pipeline need:
    cluster ids drive balanced sampling, domain discovery and per-cluster
    dedup budgets).

    Scale shape: training is FAISS-style (operators/kmeans.py — bounded
    sample + K×(dim+1) sufficient statistic per iteration); assignment is
    one broadcast crossJoin + map-side ``max(struct)`` argmax, O(N·K·d)
    flops with no shuffle wider than N rows. The DuckDB twin re-derives the
    SAME centroids via the unrolled Lloyd's CTE chain, then replays the
    identical fixed-order L2 argmin.
    """
    from levenshtein_spark.operators.kmeans import assign_cells

    e = tbl(spark, sf, "embeddings")
    cent = _trained_ivf_cent(e)
    return assign_cells(e, cent, "vec_id", "embedding").select("vec_id", "cell")


def q_kmeans_cell_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced sampling: {_CELL_SAMPLE_R} vectors per trained
    k-means cell, picked by deterministic hash order (md5 of the id — the
    repo's standard seedable shuffle). The curation counterpart of
    ``sample_stratified``: balancing on LEARNED embedding cells instead of
    a metadata column counters majority-domain dominance in pretraining
    mixes. Compiles to the WindowGroupLimit shape (rank-k per group is
    pushed before the final sort at every partition), so no cell's full
    membership ever sorts globally.
    """
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        q_kmeans_cells(spark, sf)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CELL_SAMPLE_R)
        .select("cell", "vec_id", F.col("rk").cast("long").alias("rk"))
    )


_SEM_TAU = 0.25  # within-cell cosine ball: same verify threshold as dedup_embedding


def q_dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic dedup (the SemDeDup recipe, Abbas et al. 2023): candidate
    generation by TRAINED k-means cell instead of LSH bucket — train the
    coarse quantizer, assign every vector to its cell, and collapse each
    vector onto the lowest-id earlier same-cell vector within the cosine
    ball (cos >= {tau}); singletons keep themselves.

    The embedding-space fifth member of the dedup family (exact / MinHash /
    SimHash / TF-IDF / semantic): LSH candidates (``dedup_embedding``) are
    data-independent, k-means cells adapt to the corpus's actual density so
    near-dup pairs concentrate into O(N·B) within-cell work with B ~ N/K
    and K grown with N — the published SemDeDup scale recipe. The cell
    self-join runs through the hot-block-salted ``candidate_pairs`` operator
    (a dense cluster IS a hot block), so one crowded cell cannot become a
    single-task O(B²) straggler.

    DuckDB twin: re-trains the identical centroids via the unrolled Lloyd's
    CTE chain (bit-exact parity contract of operators/kmeans.py), replays
    the fixed-order L2 argmin, then brute-forces within cells.
    """
    from levenshtein_spark.operators.kmeans import assign_cells
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs

    e = tbl(spark, sf, "embeddings")
    cent = _trained_ivf_cent(e)
    cells = assign_cells(e, cent, "vec_id", "embedding").transform(scoped_persist)
    blocks = cells.select(
        F.col("cell").cast("string").alias("block_key"), F.col("vec_id").alias("id")
    )
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    emb = e.select(F.col("vec_id").alias("id"), "embedding")
    fat = attach_pair_payload(pairs, emb, ["embedding"])
    near = (
        fat.where(F.round(cosine(F.col("embedding_a"), F.col("embedding_b")), 6) >= _SEM_TAU)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(F.min("id_a").alias("dup_of"))
    )
    return cells.join(near, "vec_id", "left").select(
        "vec_id", "cell", F.coalesce("dup_of", F.col("vec_id")).alias("dup_of")
    )


QUERIES = {
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_bucket_topk": q_ann_bucket_topk,
    "ann_banded_topk": q_ann_banded_topk,
    "ann_ivf_topk": q_ann_ivf_topk,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "dedup_embedding": q_dedup_embedding,
    "kmeans_cells": q_kmeans_cells,
    "kmeans_cell_sample": q_kmeans_cell_sample,
    "dedup_semantic": q_dedup_semantic,
    "ann_ivfpq_residual_topk": q_ann_ivfpq_residual_topk,
}

# -- DuckDB twins -------------------------------------------------------------
_DD_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_DD_NORM = (
    "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


def _dd_cosine(a: str, b: str) -> str:
    dot = _DD_DOT.format(a=a, b=b)
    na, nb = _DD_NORM.format(v=a), _DD_NORM.format(v=b)
    return (
        f"CASE WHEN {na} = 0 OR {nb} = 0 THEN 0.0 "
        f"ELSE {dot} / ({na} * {nb}) END"
    )


def _dd_bucket(v: str, planes: list[int]) -> str:
    """Mirror of functions.vectors packed sign bits over the given global
    plane indices: per-plane projection =
    sum_i v[i] * (md5-hash(seed,plane,i-1)/16^8 - 0.5); bit = sign."""
    terms = []
    for bit, p in enumerate(planes):
        w = (
            f"(('0x' || substr(md5(concat_ws('_', '0', '{p}', "
            f"CAST(i - 1 AS VARCHAR))), 1, 8))::BIGINT / {float(16**8)} - 0.5)"
        )
        proj = f"list_sum(list_transform(range(1, len({v}) + 1), i -> CAST({v}[i] AS DOUBLE) * {w}))"
        terms.append(f"(CASE WHEN {proj} >= 0 THEN CAST({1 << bit} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def _dd_lsh_bucket(v: str) -> str:
    return _dd_bucket(v, list(range(_PLANES)))


def _dd_l2_score(vec: str, cvec: str) -> str:
    """Mirror of operators.kmeans.l2_score: fixed-order
    dot(x,c) - 0.5*||c||² (centroids are already DOUBLE lists)."""
    d = _DD_DOT.format(a=vec, b=cvec)
    normsq = f"list_sum(list_transform({cvec}, x -> x * x))"
    return f"(({d}) - (0.5 * ({normsq})))"


def _dd_kmeans_ctes(
    prefix: str, src_sql: str, k: int, dim: int, iters: int = _KM_ITERS, quant: int = _KM_QUANT
) -> list[str]:
    """Unrolled Lloyd's k-means as CTE fragments, ending in
    ``{prefix}_cent{iters}(cid, cvec)`` — the DuckDB twin of
    operators.kmeans.train_centroids. ``src_sql`` must yield
    ``(vec_id, v)`` with ``v`` the float vector. Exact parity: quantized
    BIGINT per-dim sums (order-free), one correctly-rounded divide per
    centroid value, L2 argmin with ties to the lower cid, empty cells carry
    the previous centroid.

    Every fragment is ``AS MATERIALIZED``: DuckDB's default CTE inlining
    re-runs the whole unrolled trainer once per downstream reference (the
    residual-PQ oracle referenced the chain ~10x, inflating its wall from
    <1s to ~160s at sf0.01); materialization computes each step once with
    bit-identical results (it only pins evaluation, never semantics)."""
    ctes = [f"{prefix}_src AS MATERIALIZED ({src_sql})"]
    ctes.append(
        f"{prefix}_xq AS MATERIALIZED (SELECT vec_id, v, "
        f"list_transform(v, x -> CAST(round(CAST(x AS DOUBLE) * {quant}.0) AS BIGINT)) AS q "
        f"FROM {prefix}_src)"
    )
    ctes.append(
        f"{prefix}_cent0 AS MATERIALIZED (SELECT vec_id AS cid, "
        f"list_transform(v, x -> CAST(x AS DOUBLE)) AS cvec "
        f"FROM {prefix}_src WHERE vec_id < {k})"
    )
    for t in range(1, iters + 1):
        prev = f"{prefix}_cent{t - 1}"
        score = _dd_l2_score("e.v", "c.cvec")
        ctes.append(
            f"""{prefix}_a{t} AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {score} DESC, c.cid) AS rn
    FROM {prefix}_xq e CROSS JOIN {prev} c) s WHERE rn = 1)"""
        )
        ctes.append(
            f"""{prefix}_u{t} AS MATERIALIZED (
  SELECT a.cell, r.i AS dim, sum(e.q[r.i]) AS s, count(*) AS n
  FROM {prefix}_a{t} a JOIN {prefix}_xq e USING (vec_id), UNNEST(range(1, {dim + 1})) AS r(i)
  GROUP BY a.cell, r.i)"""
        )
        ctes.append(
            f"""{prefix}_w{t} AS MATERIALIZED (
  SELECT cell AS cid, list(CAST(s AS DOUBLE) / CAST(n * {quant} AS DOUBLE) ORDER BY dim) AS cvec
  FROM {prefix}_u{t} GROUP BY cell)"""
        )
        ctes.append(
            f"""{prefix}_cent{t} AS MATERIALIZED (
  SELECT p.cid, COALESCE(w.cvec, p.cvec) AS cvec
  FROM {prev} p LEFT JOIN {prefix}_w{t} w ON w.cid = p.cid)"""
        )
    return ctes


_DD_IVF_CENT = ",\n".join(
    _dd_kmeans_ctes("ivfkm", "SELECT vec_id, embedding AS v FROM embeddings", _IVF_K, _DIM)
) + f",\ncent AS MATERIALIZED (SELECT cid, cvec FROM ivfkm_cent{_KM_ITERS})"


def _dd_pq_cb_ctes() -> str:
    """CTE fragments training the {_PQ_M} sub-codebooks + the final ``cb``."""
    parts = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUBDIM + 1, m * _PQ_SUBDIM + _PQ_SUBDIM
        parts += _dd_kmeans_ctes(
            f"pqkm{m}",
            f"SELECT vec_id, embedding[{lo}:{hi}] AS v FROM embeddings",
            _PQ_K,
            _PQ_SUBDIM,
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {m} AS m, cid AS code, cvec FROM pqkm{m}_cent{_KM_ITERS}"
        for m in range(_PQ_M)
    )
    parts.append(f"cb AS MATERIALIZED ({union})")
    return ",\n".join(parts)


def _dd_banded_keys_sql() -> str:
    """UNION ALL of (vec_id, block_key) per banded-LSH table — mirror of
    banded_lsh_keys(embedding, {_B_TABLES}, {_B_PLANES}, seed=0)."""
    selects = []
    for t in range(_B_TABLES):
        planes = [t * _B_PLANES + p for p in range(_B_PLANES)]
        bucket = _dd_bucket("embedding", planes)
        selects.append(
            f"SELECT vec_id, 't{t}' || '|' || CAST({bucket} AS VARCHAR) AS block_key FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)


ORACLES = {
    "ann_cosine_topk": f"""
WITH probes AS (
  SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < {_N_PROBES}
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id,
         round({_dd_cosine('p.q', 'e.embedding')}, 6) AS cos_sim
  FROM probes p CROSS JOIN embeddings e
  WHERE e.vec_id <> p.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOP_K}
""",
    "ann_lsh_buckets": f"""
SELECT vec_id, {_dd_lsh_bucket('embedding')} AS bucket FROM embeddings
""",
    "dedup_embedding": f"""
WITH keyed AS ({_dd_banded_keys_sql()}),
cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM keyed l JOIN keyed r ON l.block_key = r.block_key AND l.vec_id < r.vec_id
)
SELECT c.vec_a, c.vec_b,
       round({_dd_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
FROM cand c
JOIN embeddings a ON a.vec_id = c.vec_a
JOIN embeddings b ON b.vec_id = c.vec_b
WHERE round({_dd_cosine('a.embedding', 'b.embedding')}, 6) >= 0.25
""",
    "ann_bucket_topk": f"""
WITH b AS (
  SELECT vec_id, embedding, {_dd_lsh_bucket('embedding')} AS bucket FROM embeddings
),
scored AS (
  SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
         round({_dd_cosine('l.embedding', 'r.embedding')}, 6) AS cos_sim
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn = 1
""",
    "ann_ivf_topk": f"""
WITH {_DD_IVF_CENT},
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dd_cosine('e.embedding', 'c.cvec')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
probe_cells AS (
  SELECT query_id, q, cell FROM (
    SELECT p.vec_id AS query_id, p.embedding AS q, c.cid AS cell,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY {_dd_cosine('p.embedding', 'c.cvec')} DESC, c.cid
           ) AS rn
    FROM embeddings p CROSS JOIN cent c
    WHERE p.vec_id < {_N_PROBES}
  ) WHERE rn <= {_IVF_NPROBE}
),
cands AS (
  SELECT pc.query_id, e.vec_id AS neighbor_id,
         round({_dd_cosine('pc.q', 'e.embedding')}, 6) AS cos_sim
  FROM probe_cells pc
  JOIN assign a ON a.cell = pc.cell
  JOIN embeddings e ON e.vec_id = a.vec_id
  WHERE e.vec_id <> pc.query_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM cands
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOP_K}
""",
    "ann_banded_topk": f"""
WITH keyed AS ({_dd_banded_keys_sql()}),
cand AS (
  SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS neighbor_id
  FROM keyed l JOIN keyed r ON l.block_key = r.block_key AND l.vec_id <> r.vec_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round({_dd_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.query_id
  JOIN embeddings b ON b.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn = 1
""",
}

_DD_PQ_DOT = _DD_DOT  # same left-fold dot as every other vector twin

ORACLES["ann_pq_topk"] = f"""
WITH ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
{_dd_pq_cb_ctes()},
subs AS (
  SELECT vec_id, ms.m AS m,
         embedding[ms.m * {_PQ_SUBDIM} + 1 : ms.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS xv
  FROM embeddings, ms
),
scored AS (
  SELECT s.vec_id, s.m, c.code,
         {_DD_PQ_DOT.format(a='s.xv', b='c.cvec')} AS d
  FROM subs s JOIN cb c ON c.m = s.m
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d DESC, code) AS rn
    FROM scored) t WHERE rn = 1
),
codes_w AS (
  SELECT vec_id,
         {", ".join(f"max(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(_PQ_M))}
  FROM codes GROUP BY vec_id
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < {_N_PROBES}
),
adc AS (
  SELECT p.query_id, c.m, c.code,
         {_DD_PQ_DOT.format(a="p.q[c.m * %d + 1 : c.m * %d + %d]" % (_PQ_SUBDIM, _PQ_SUBDIM, _PQ_SUBDIM), b='c.cvec')} AS part
  FROM probes p, cb c
),
cand AS (
  SELECT a0.query_id, w.vec_id AS neighbor_id,
         (((a0.part + a1.part) + a2.part) + a3.part) AS adc
  FROM codes_w w
  {" ".join(
      f"JOIN adc a{m} ON a{m}.m = {m} AND a{m}.code = w.c{m}"
      + (f" AND a{m}.query_id = a0.query_id" if m > 0 else "")
      for m in range(_PQ_M)
  )}
  WHERE w.vec_id <> a0.query_id
)
SELECT query_id, neighbor_id, round(adc, 6) AS adc_score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY round(adc, 6) DESC, neighbor_id) AS rank
  FROM cand) t
WHERE rank <= {_TOP_K}
"""

ORACLES["ann_ivfpq_topk"] = f"""
WITH ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
{_dd_pq_cb_ctes()},
subs AS (
  SELECT vec_id, ms.m AS m,
         embedding[ms.m * {_PQ_SUBDIM} + 1 : ms.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS xv
  FROM embeddings, ms
),
pq_scored AS (
  SELECT s.vec_id, s.m, c.code, {_DD_PQ_DOT.format(a='s.xv', b='c.cvec')} AS d
  FROM subs s JOIN cb c ON c.m = s.m
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d DESC, code) AS rn
    FROM pq_scored) t WHERE rn = 1
),
codes_w AS (
  SELECT vec_id,
         {", ".join(f"max(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(_PQ_M))}
  FROM codes GROUP BY vec_id
),
{_DD_IVF_CENT},
assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_dd_cosine('e.embedding', 'c.cvec')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
probe_cells AS (
  SELECT query_id, cell FROM (
    SELECT p.vec_id AS query_id, c.cid AS cell,
           row_number() OVER (
             PARTITION BY p.vec_id
             ORDER BY {_dd_cosine('p.embedding', 'c.cvec')} DESC, c.cid
           ) AS rn
    FROM embeddings p CROSS JOIN cent c
    WHERE p.vec_id < {_N_PROBES}
  ) WHERE rn <= {_IVF_NPROBE}
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < {_N_PROBES}
),
adc AS (
  SELECT p.query_id, c.m, c.code,
         {_DD_PQ_DOT.format(a="p.q[c.m * %d + 1 : c.m * %d + %d]" % (_PQ_SUBDIM, _PQ_SUBDIM, _PQ_SUBDIM), b='c.cvec')} AS part
  FROM probes p, cb c
),
cand AS (
  SELECT pc.query_id, w.vec_id AS neighbor_id,
         (((a0.part + a1.part) + a2.part) + a3.part) AS adc
  FROM probe_cells pc
  JOIN assign a ON a.cell = pc.cell
  JOIN codes_w w ON w.vec_id = a.vec_id
  {" ".join(
      f"JOIN adc a{m} ON a{m}.m = {m} AND a{m}.code = w.c{m} AND a{m}.query_id = pc.query_id"
      for m in range(_PQ_M)
  )}
  WHERE w.vec_id <> pc.query_id
)
SELECT query_id, neighbor_id, round(adc, 6) AS adc_score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY round(adc, 6) DESC, neighbor_id) AS rank
  FROM cand) t
WHERE rank <= {_TOP_K}
"""


# Final assignment with the trained centroids — one more round of the same
# fixed-order L2 argmin the training CTEs use (ties to the lower cid).
_DD_KM_FINAL_ASSIGN = f"""
final_assign AS MATERIALIZED (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cid AS cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_dd_l2_score("e.v", "c.cvec")} DESC, c.cid) AS rn
    FROM ivfkm_xq e CROSS JOIN cent c) s WHERE rn = 1)
"""

ORACLES["kmeans_cells"] = f"""
WITH {_DD_IVF_CENT},
{_DD_KM_FINAL_ASSIGN}
SELECT vec_id, cell FROM final_assign
"""

ORACLES["dedup_semantic"] = f"""
WITH {_DD_IVF_CENT},
{_DD_KM_FINAL_ASSIGN},
m AS (
  SELECT f.vec_id, f.cell, e.embedding
  FROM final_assign f JOIN embeddings e USING (vec_id)
),
near AS (
  SELECT l.vec_id, min(r.vec_id) AS dup_of
  FROM m l JOIN m r ON l.cell = r.cell AND r.vec_id < l.vec_id
  WHERE round({_dd_cosine('l.embedding', 'r.embedding')}, 6) >= {_SEM_TAU}
  GROUP BY l.vec_id
)
SELECT f.vec_id, f.cell, COALESCE(n.dup_of, f.vec_id) AS dup_of
FROM final_assign f LEFT JOIN near n USING (vec_id)
"""

ORACLES["kmeans_cell_sample"] = f"""
WITH {_DD_IVF_CENT},
{_DD_KM_FINAL_ASSIGN}
SELECT cell, vec_id, rk FROM (
  SELECT cell, vec_id,
         row_number() OVER (PARTITION BY cell
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
  FROM final_assign) t
WHERE rk <= {_CELL_SAMPLE_R}
"""


def _dd_rpq_cb_ctes() -> str:
    """CTE fragments training the residual sub-codebooks + final ``rcb``."""
    parts = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUBDIM + 1, m * _PQ_SUBDIM + _PQ_SUBDIM
        parts += _dd_kmeans_ctes(
            f"rpq{m}",
            f"SELECT vec_id, resid[{lo}:{hi}] AS v FROM resid",
            _PQ_K,
            _PQ_SUBDIM,
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {m} AS m, cid AS code, cvec FROM rpq{m}_cent{_KM_ITERS}"
        for m in range(_PQ_M)
    )
    parts.append(f"rcb AS MATERIALIZED ({union})")
    return ",\n".join(parts)


ORACLES["ann_ivfpq_residual_topk"] = f"""
WITH ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
{_DD_IVF_CENT},
{_DD_KM_FINAL_ASSIGN},
resid AS MATERIALIZED (
  SELECT f.vec_id, f.cell,
         list_transform(range(1, {_DIM} + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) - c.cvec[i]) AS resid
  FROM final_assign f
  JOIN embeddings e USING (vec_id)
  JOIN cent c ON c.cid = f.cell
),
{_dd_rpq_cb_ctes()},
subs AS (
  SELECT vec_id, ms.m AS m,
         resid[ms.m * {_PQ_SUBDIM} + 1 : ms.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS xv
  FROM resid, ms
),
pq_scored AS (
  SELECT s.vec_id, s.m, c.code, {_DD_PQ_DOT.format(a='s.xv', b='c.cvec')} AS d
  FROM subs s JOIN rcb c ON c.m = s.m
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT vec_id, m, code,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d DESC, code) AS rn
    FROM pq_scored) t WHERE rn = 1
),
codes_w AS (
  SELECT vec_id,
         {", ".join(f"max(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(_PQ_M))}
  FROM codes GROUP BY vec_id
),
probes AS (
  SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < {_N_PROBES}
),
probe_cells AS (
  SELECT query_id, cell, qc FROM (
    SELECT p.query_id, c.cid AS cell,
           {_DD_DOT.format(a='p.q', b='c.cvec')} AS qc,
           row_number() OVER (
             PARTITION BY p.query_id
             ORDER BY {_dd_l2_score('p.q', 'c.cvec')} DESC, c.cid
           ) AS rn
    FROM probes p CROSS JOIN cent c) t WHERE rn <= {_IVF_NPROBE}
),
adc AS (
  SELECT p.query_id, c.m, c.code,
         {_DD_PQ_DOT.format(a="p.q[c.m * %d + 1 : c.m * %d + %d]" % (_PQ_SUBDIM, _PQ_SUBDIM, _PQ_SUBDIM), b='c.cvec')} AS part
  FROM probes p, rcb c
),
cand AS (
  SELECT pc.query_id, w.vec_id AS neighbor_id,
         ((((pc.qc + a0.part) + a1.part) + a2.part) + a3.part) AS adc
  FROM probe_cells pc
  JOIN final_assign fa ON fa.cell = pc.cell
  JOIN codes_w w ON w.vec_id = fa.vec_id
  {" ".join(
      f"JOIN adc a{m} ON a{m}.query_id = pc.query_id AND a{m}.m = {m} AND a{m}.code = w.c{m}"
      for m in range(_PQ_M)
  )}
  WHERE w.vec_id <> pc.query_id
)
SELECT query_id, neighbor_id, round(adc, 6) AS adc_score, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY round(adc, 6) DESC, neighbor_id) AS rank
  FROM cand) t
WHERE rank <= {_TOP_K}
"""


def q_ann_multiprobe_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe banded LSH top-k (Lv et al. 2007): queries probe each
    table's exact bucket PLUS the bucket with the least-confident sign bit
    flipped (smallest |projection| margin). Recall comparable to adding
    tables, bought on the query side for zero index cost — the index keeps
    the same ``banded_lsh_keys`` rows, so at scale memory and build shuffle
    stay at b tables while probe fan-out merely doubles.

    Scale shape: the probe set is tiny and broadcasts onto the index key
    stream (BroadcastHashJoin on block_key); candidates dedupe via one
    distinct on slim (query, neighbor) ids; exact cosine + WindowGroupLimit
    top-k. The DuckDB twin re-derives bucket, argmin margin plane, and the
    flipped key bit-for-bit from the same portable projections.
    """
    from levenshtein_spark.functions.vectors import multiprobe_lsh_keys

    e = tbl(spark, sf, "embeddings")
    idx = e.select(
        F.explode(banded_lsh_keys("embedding", _B_TABLES, _B_PLANES, seed=0)).alias("block_key"),
        "vec_id",
    )
    probes = e.where(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    qkeys = probes.select(
        "query_id",
        F.explode(multiprobe_lsh_keys("q", _B_TABLES, _B_PLANES, seed=0)).alias("block_key"),
    )
    cand = (
        F.broadcast(qkeys)
        .join(idx, "block_key")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    scored = (
        cand.join(F.broadcast(probes), "query_id")
        .join(e, e["vec_id"] == F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q"), F.col("embedding")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rank").cast("int").alias("rank"))
    )


QUERIES["ann_multiprobe_topk"] = q_ann_multiprobe_topk


def _dd_multiprobe_keys_sql() -> str:
    """(query_id, block_key) per probe: exact + least-margin-flipped bucket
    per table — mirror of functions.vectors.multiprobe_lsh_keys."""
    def proj(p: int) -> str:
        w = (
            f"(('0x' || substr(md5(concat_ws('_', '0', '{p}', "
            f"CAST(i - 1 AS VARCHAR))), 1, 8))::BIGINT / {float(16**8)} - 0.5)"
        )
        return f"list_sum(list_transform(range(1, len(q) + 1), i -> CAST(q[i] AS DOUBLE) * {w}))"

    selects = []
    for t in range(_B_TABLES):
        planes = [t * _B_PLANES + p for p in range(_B_PLANES)]
        bucket = _dd_bucket("q", planes)
        margins = "[" + ", ".join(f"abs({proj(p)})" for p in planes) + "]"
        jstar = f"(list_position({margins}, list_min({margins})) - 1)"
        flipped = f"xor({bucket}, (1::BIGINT << {jstar}))"
        selects.append(
            f"SELECT query_id, 't{t}' || '|' || CAST({bucket} AS VARCHAR) AS block_key FROM probes"
        )
        selects.append(
            f"SELECT query_id, 't{t}' || '|' || CAST({flipped} AS VARCHAR) AS block_key FROM probes"
        )
    return "\nUNION ALL\n".join(selects)


ORACLES["ann_multiprobe_topk"] = f"""
WITH probes AS (
  SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < {_N_PROBES}
),
idx AS ({_dd_banded_keys_sql()}),
qk AS ({_dd_multiprobe_keys_sql()}),
cand AS (
  SELECT DISTINCT qk.query_id, i.vec_id AS neighbor_id
  FROM qk JOIN idx i ON i.block_key = qk.block_key
  WHERE i.vec_id <> qk.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round({_dd_cosine('p.q', 'e.embedding')}, 6) AS cos_sim
  FROM cand c
  JOIN probes p ON p.query_id = c.query_id
  JOIN embeddings e ON e.vec_id = c.neighbor_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_TOP_K}
"""


# ---------------------------------------------------------------------------
# Density-based clustering (DBSCAN) over the embedding corpus
# ---------------------------------------------------------------------------
_DB_EPS = 0.25   # cosine eps — the dedup_embedding verify threshold
_DB_MINPTS = 3   # core point: >= 3 eps-neighbors


def q_embedding_dbscan(spark: SparkSession, sf: str) -> DataFrame:
    """DBSCAN over embeddings (Ester et al. 1996) — the density clustering
    every embedding-curation stack wants next to k-means: clusters of
    arbitrary shape, plus an explicit NOISE label for isolated vectors
    (k-means force-assigns those, polluting cells).

    Defined semantics (the ``dedup_semantic`` discipline): the
    eps-neighborhood graph is the banded multi-table LSH candidate set
    (identical keys to ``dedup_embedding`` — the twin regenerates them
    bit-for-bit) verified at exact cosine >= {eps}. Over that graph, the
    textbook definitions verbatim: core = |N_eps(p)| >= {minpts} with p
    counted inside its own neighborhood (degree + 1); clusters =
    connected components of the core-core subgraph labeled by their min
    core id; border = non-core with a core neighbor, taking the min core
    neighbor's cluster (deterministic — plain DBSCAN is order-dependent for
    border points; min-label is the canonical tie-free choice); noise = -1.

    Scale shape: degree is one map-side-combining count over the slim
    symmetric edge stream; components run the same star-contraction loop as
    linkage clustering (edges only, never the corpus); border assignment is
    one edge-keyed join + min-agg. Nothing touches vectors after the edge
    verify.
    """
    from levenshtein_spark.operators.clustering import dbscan_labels

    edges = q_dedup_embedding(spark, sf).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    ids = tbl(spark, sf, "embeddings").select(F.col("vec_id").alias("id"))
    return dbscan_labels(ids, edges, _DB_MINPTS).select(
        F.col("id").alias("vec_id"), "deg", "is_core", "cluster"
    )


QUERIES["embedding_dbscan"] = q_embedding_dbscan

ORACLES["embedding_dbscan"] = f"""
WITH RECURSIVE
keys AS ({_dd_banded_keys_sql()}),
cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM keys l JOIN keys r ON l.block_key = r.block_key AND l.vec_id < r.vec_id
),
edges AS (
  SELECT c.a, c.b
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.a
  JOIN embeddings eb ON eb.vec_id = c.b
  WHERE round({_dd_cosine('ea.embedding', 'eb.embedding')}, 6) >= {_DB_EPS}
),
sym AS (SELECT a AS v, b AS nb FROM edges UNION ALL SELECT b, a FROM edges),
deg AS (
  SELECT e.vec_id AS v, CAST(coalesce(d.cnt, 0) AS BIGINT) AS deg
  FROM embeddings e
  LEFT JOIN (SELECT v, count(*) AS cnt FROM sym GROUP BY v) d ON d.v = e.vec_id
),
core AS (SELECT v FROM deg WHERE deg + 1 >= {_DB_MINPTS}),
core_edges AS (
  SELECT s.v, s.nb FROM sym s
  JOIN core x ON x.v = s.v JOIN core y ON y.v = s.nb
),
reach(root, node) AS (
  SELECT v, v FROM core
  UNION
  SELECT r.root, e.nb FROM reach r JOIN core_edges e ON e.v = r.node
),
comp AS (SELECT root AS v, min(node) AS core_cl FROM reach GROUP BY root),
border AS (
  SELECT s.v, min(c.core_cl) AS border_cl
  FROM sym s JOIN comp c ON c.v = s.nb
  GROUP BY s.v
)
SELECT d.v AS vec_id, d.deg,
       (cm.core_cl IS NOT NULL) AS is_core,
       CAST(coalesce(cm.core_cl, bo.border_cl, -1) AS BIGINT) AS cluster
FROM deg d
LEFT JOIN comp cm ON cm.v = d.v
LEFT JOIN border bo ON bo.v = d.v
"""
