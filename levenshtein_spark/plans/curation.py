"""End-to-end corpus-curation plan with checkpoint/resume and lineage metrics.

The production twin of the curation driver queries — the pipeline an LLM
training corpus actually runs before shard writing::

    profiled → kept → exact_canon → neardup_edges → canon → splits → shards

* **profiled** — per-doc stats (token count, quality score, top-word
  repetition fraction, content md5);
* **kept** — quality gate (min quality, max repetition);
* **exact_canon** — exact dedup: one canonical row per identical content;
* **neardup_edges** — MinHash-LSH candidates (flat-codegen band keys →
  salted slim pairs) verified with true word-bigram Jaccard;
* **canon** — near-dup clusters collapsed via the same large-star/small-star
  connected components as the linkage plan; the minimum doc_id survives;
* **splits** — deterministic hash-based train/val/test assignment;
* **shards** — token-budget packing per split over the distributed prefix
  sum (operators/packing.py).

Every stage checkpoints to the warehouse with a per-partition lineage
metrics table and resumes exactly like the linkage plan (kill after any
stage, re-run continues). The per-row invariant is content-md5 stability:
every surviving doc's fingerprint must equal a fresh recompute from source.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from levenshtein_spark.functions.hashing import hash_bucket, minhash_band_table
from levenshtein_spark.functions.text import (
    quality_score,
    token_count,
    word_bigrams,
    word_tokens,
)
from levenshtein_spark.operators.clustering import cluster_labels
from levenshtein_spark.operators.packing import pack_by_budget
from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
from levenshtein_spark.plans.stages import run_stage
from levenshtein_spark.sources.tables import Warehouse


@dataclass
class CurationConfig:
    checkpoint_dir: str
    min_quality: float = 0.4
    max_top_word_frac: float = 0.5
    jaccard: float = 0.8
    num_hashes: int = 8
    bands: int = 4
    shard_budget: int = 2048
    train_below: int = 80  # hash bucket < 80 → train
    val_below: int = 90    # < 90 → val, else test
    hot_threshold: int = 2000
    force: bool = False
    stage_times: dict = field(default_factory=dict)


def _profile(docs: DataFrame) -> DataFrame:
    """The per-doc profile projection — ONE definition shared by the batch
    and incremental plans (their equivalence is pinned in tests; a change
    applied to only one would silently diverge them).

    top-word fraction needs a per-(doc, word) count — map-side combining
    aggregations, same shape as driver_queries.text."""
    words = (
        docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_word_frac"))
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.md5("text").alias("fp"),
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            quality_score(F.col("text")).alias("quality"),
        )
        .join(words, "doc_id", "left")
        .withColumn("top_word_frac", F.coalesce("top_word_frac", F.lit(0.0)))
    )


def _quality_gate(profiled: DataFrame, cfg: CurationConfig) -> DataFrame:
    return profiled.where(
        (F.col("quality") >= cfg.min_quality)
        & (F.col("top_word_frac") <= cfg.max_top_word_frac)
    )


def _assign_splits(canon: DataFrame, cfg: CurationConfig) -> DataFrame:
    return canon.select(
        "doc_id",
        "n_tokens",
        F.when(hash_bucket(F.col("doc_id")) < cfg.train_below, "train")
        .when(hash_bucket(F.col("doc_id")) < cfg.val_below, "val")
        .otherwise("test")
        .alias("split"),
    )


def _pack_shards(splits: DataFrame, cfg: CurationConfig) -> DataFrame:
    # one grouped prefix-sum pass packs all splits (each split is an
    # independent token stream / shard sequence)
    return pack_by_budget(
        splits, ["doc_id"], "n_tokens", cfg.shard_budget, group_cols=["split"]
    ).select("doc_id", "n_tokens", "split", "shard_id")


def _bands(canon_rows: DataFrame, cfg: CurationConfig) -> DataFrame:
    """(block_key, id) MinHash band keys of canonical rows."""
    return minhash_band_table(
        canon_rows, "doc_id", word_bigrams(F.col("text")), cfg.num_hashes, cfg.bands
    ).select(F.col("band_key").alias("block_key"), "id")


def _verify_edges(pairs: DataFrame, canon_rows: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Verify slim candidate pairs with true word-bigram Jaccard."""
    grams = canon_rows.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(word_bigrams(F.col("text"))).alias("g"),
    )
    fat = attach_pair_payload(pairs, grams, ["g"])
    jac = F.size(F.array_intersect("g_a", "g_b")).cast("double") / F.size(
        F.array_union("g_a", "g_b")
    )
    return fat.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= cfg.jaccard
    )


def run_curation(spark: SparkSession, docs: DataFrame, cfg: CurationConfig) -> dict:
    """Run (or resume) the curation pipeline over a documents table
    (doc_id, text, ...); returns handles to every stage."""
    wh = Warehouse(spark, cfg.checkpoint_dir)

    profiled = run_stage(wh, cfg, "profiled", lambda: _profile(docs))

    kept = run_stage(wh, cfg, "kept", lambda: _quality_gate(profiled, cfg))

    # exact dedup: lowest doc_id survives per identical content
    exact_canon = run_stage(
        wh,
        cfg,
        "exact_canon",
        lambda: kept.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(kept, ["fp", "doc_id"]),
    )

    # band keys are their own stage: the incremental plan reuses them, so a
    # daily batch never re-hashes the base corpus's bigrams
    neardup_bands = run_stage(
        wh,
        cfg,
        "neardup_bands",
        lambda: _bands(exact_canon, cfg),
    )

    neardup_edges = run_stage(
        wh,
        cfg,
        "neardup_edges",
        lambda: _verify_edges(
            candidate_pairs(neardup_bands, cfg.hot_threshold).drop("n_keys"),
            exact_canon,
            cfg,
        ),
    )

    # collapse near-dup clusters exactly like entity clusters: the label IS
    # the minimum reachable id, so the canonical row is label == id
    canon = run_stage(
        wh,
        cfg,
        "canon",
        lambda: cluster_labels(
            exact_canon.select(F.col("doc_id").alias("id")),
            neardup_edges.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            ),
            checkpoint_dir=f"{cfg.checkpoint_dir}/cc_rounds",
        )
        .where(F.col("id") == F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"))
        .join(exact_canon, "doc_id"),
    )

    splits = run_stage(wh, cfg, "splits", lambda: _assign_splits(canon, cfg))
    shards = run_stage(wh, cfg, "shards", lambda: _pack_shards(splits, cfg))

    # per-row invariant: surviving docs' content fingerprint equals a fresh
    # recompute from source (nothing mutated text along the way)
    drift = (
        canon.select("doc_id", "fp")
        .join(docs.select("doc_id", F.md5("text").alias("fp2")), "doc_id")
        .where(F.col("fp") != F.col("fp2"))
        .count()
    )
    if drift:
        raise AssertionError(f"content fingerprint changed for {drift} rows")

    return {
        "profiled": profiled,
        "kept": kept,
        "exact_canon": exact_canon,
        "neardup_bands": neardup_bands,
        "neardup_edges": neardup_edges,
        "canon": canon,
        "splits": splits,
        "shards": shards,
        "warehouse": wh,
    }


def run_incremental_curation(
    spark: SparkSession,
    delta_docs: DataFrame,
    cfg: CurationConfig,
    batch_id: str = "delta",
    base_prefix: str = "",
) -> dict:
    """Curate a delta batch of NEW documents against an already-curated
    warehouse without re-profiling or re-pairing the base.

    Reads the base ``{base_prefix}profiled`` / ``{base_prefix}exact_canon``
    / ``{base_prefix}neardup_edges`` stage tables (run :func:`run_curation`
    there first). The quadratic stage decomposes exactly like incremental
    linkage: base×base near-dup edges are reused from the checkpoint,
    delta×base candidates come from the bipartite salted band join, and
    only the delta bands self-join — so pairing cost scales with
    |delta|·fanout. The linear stages (splits, shard packing) recompute
    over the merged canon set, because inserting documents shifts every
    later start offset — recomputing them IS the batch semantics, and they
    are one scan each.

    Loud guards (both raise instead of silently diverging from batch):

    * delta doc_ids must be disjoint from the base's profiled ids;
    * delta doc_ids must all be LARGER than every base id (append-only
      corpus). This is what makes reuse exact: survivorship is min-id, so
      a smaller late-arriving id could re-elect a base group's canonical
      row and invalidate the base's cached near-dup edges.

    Outputs ``{batch_id}_all_profiled`` / ``_all_exact_canon`` /
    ``_all_neardup_edges`` so day-over-day batches chain (pass
    ``base_prefix=f"{batch_id}_all_"`` next time). The merged ``canon`` /
    ``splits`` / ``shards`` land as ``{batch_id}_*``. Pinned equal to a
    full-batch run — single and chained — in tests/test_curation_plan.py.
    """
    wh = Warehouse(spark, cfg.checkpoint_dir)
    base_tables = [
        f"{base_prefix}{t}"
        for t in ("profiled", "exact_canon", "neardup_bands", "neardup_edges")
    ]
    for t in base_tables:
        if not wh.exists(t):
            raise ValueError(
                f"base stage '{t}' missing from {cfg.checkpoint_dir}; run run_curation first"
            )
    base_profiled = wh.read(base_tables[0])
    base_exact = wh.read(base_tables[1])
    base_bands = wh.read(base_tables[2])
    base_edges = wh.read(base_tables[3]).select("id_a", "id_b")

    bounds = base_profiled.agg(F.max("doc_id").alias("mx")).collect()[0]
    overlap = (
        delta_docs.select("doc_id").join(base_profiled.select("doc_id"), "doc_id").count()
    )
    if overlap:
        raise ValueError(
            f"{overlap} delta ids already exist in the base — incremental curation "
            "takes new documents only"
        )
    low = delta_docs.where(F.col("doc_id") <= bounds["mx"]).count()
    if low:
        raise ValueError(
            f"{low} delta ids are not larger than the base's max id ({bounds['mx']}) — "
            "append-only ids are required (min-id survivorship would re-elect base "
            "canonicals and invalidate cached edges)"
        )

    resumed = wh.exists(f"{batch_id}_profiled")
    delta_profiled = run_stage(
        wh, cfg, f"{batch_id}_profiled", lambda: _profile(delta_docs)
    )
    if resumed:
        fresh_ids = delta_docs.select("doc_id")
        stale = (
            delta_profiled.select("doc_id").join(fresh_ids, "doc_id", "left_anti").count()
            + fresh_ids.join(delta_profiled.select("doc_id"), "doc_id", "left_anti").count()
        )
        if stale:
            raise ValueError(
                f"batch_id '{batch_id}' was already run with a different delta "
                f"({stale} ids differ) — use a fresh batch_id per batch"
            )

    delta_kept = run_stage(
        wh, cfg, f"{batch_id}_kept", lambda: _quality_gate(delta_profiled, cfg)
    )

    # exact dedup vs base: append-only ids mean base canonicals never lose
    # their election, so the delta contributes only fps the base lacks
    delta_exact = run_stage(
        wh,
        cfg,
        f"{batch_id}_exact_canon",
        lambda: delta_kept.join(base_exact.select("fp"), "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(delta_kept, ["fp", "doc_id"]),
    )
    all_exact = run_stage(
        wh,
        cfg,
        f"{batch_id}_all_exact_canon",
        lambda: base_exact.unionByName(delta_exact),
    )

    # delta band keys checkpoint too: the base side comes straight from the
    # base's neardup_bands table, so a daily batch re-hashes ONLY the delta
    delta_bands = run_stage(
        wh, cfg, f"{batch_id}_bands", lambda: _bands(delta_exact, cfg)
    )

    def build_delta_edges() -> DataFrame:
        from levenshtein_spark.operators.pairs import candidate_pairs_lr

        cross = candidate_pairs_lr(delta_bands, base_bands, cfg.hot_threshold).select(
            F.least("id_l", "id_r").alias("id_a"), F.greatest("id_l", "id_r").alias("id_b")
        )
        within = candidate_pairs(delta_bands, cfg.hot_threshold).select("id_a", "id_b")
        return _verify_edges(cross.unionByName(within).distinct(), all_exact, cfg)

    delta_edges = run_stage(wh, cfg, f"{batch_id}_edges", build_delta_edges)
    all_bands = run_stage(
        wh,
        cfg,
        f"{batch_id}_all_neardup_bands",
        lambda: base_bands.unionByName(delta_bands),
    )
    all_edges = run_stage(
        wh,
        cfg,
        f"{batch_id}_all_neardup_edges",
        lambda: base_edges.unionByName(delta_edges.select("id_a", "id_b")),
    )

    canon = run_stage(
        wh,
        cfg,
        f"{batch_id}_canon",
        lambda: cluster_labels(
            all_exact.select(F.col("doc_id").alias("id")),
            all_edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            checkpoint_dir=f"{cfg.checkpoint_dir}/cc_rounds_{batch_id}",
        )
        .where(F.col("id") == F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"))
        .join(all_exact, "doc_id"),
    )

    splits = run_stage(
        wh, cfg, f"{batch_id}_splits", lambda: _assign_splits(canon, cfg)
    )
    shards = run_stage(
        wh, cfg, f"{batch_id}_shards", lambda: _pack_shards(splits, cfg)
    )
    all_profiled = run_stage(
        wh,
        cfg,
        f"{batch_id}_all_profiled",
        lambda: base_profiled.unionByName(delta_profiled),
    )

    drift = (
        delta_profiled.select("doc_id", "fp")
        .join(delta_docs.select("doc_id", F.md5("text").alias("fp2")), "doc_id")
        .where(F.col("fp") != F.col("fp2"))
        .count()
    )
    if drift:
        raise AssertionError(f"content fingerprint changed for {drift} delta rows")

    return {
        "delta_profiled": delta_profiled,
        "delta_kept": delta_kept,
        "delta_exact_canon": delta_exact,
        "delta_bands": delta_bands,
        "delta_edges": delta_edges,
        "all_profiled": all_profiled,
        "all_exact_canon": all_exact,
        "all_neardup_bands": all_bands,
        "all_edges": all_edges,
        "canon": canon,
        "splits": splits,
        "shards": shards,
        "warehouse": wh,
    }
