"""End-to-end record-linkage plan with checkpoint/resume and lineage metrics.

Stage graph (SURVEY.md §3.4)::

    normalized → blocks → pairs → scored → edges(+clusters) → clusters

Every stage is written to the warehouse (Iceberg or Parquet) together with a
metrics row (row count + per-partition lineage counts + the stage's sha256
checksum of the invariant column where applicable). A re-run skips stages
whose table already exists — kill the job after any stage and the next run
resumes from there (north_rule: resumable from checkpoint). ``force=True``
recomputes everything.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from levenshtein_spark.operators.blocking import exploded_blocks
from levenshtein_spark.operators.clustering import (
    cluster_labels,
    merge_center_labels,
    pivot_labels,
    star_labels,
)
from levenshtein_spark.operators.normalize import normalize
from levenshtein_spark.operators.pairs import (
    attach_pair_payload,
    candidate_pairs,
    candidate_pairs_lr,
)
from levenshtein_spark.operators.scoring import edges as edges_of
from levenshtein_spark.operators.scoring import score_pairs
from levenshtein_spark.plans.stages import run_stage as _stage
from levenshtein_spark.sources.tables import Warehouse


@dataclass
class LinkageConfig:
    checkpoint_dir: str
    k_content: int = 8
    k_path: int = 4
    prefix_len: int = 256
    len_band: int = 32
    # a block of n > hot_threshold rows is salted into ceil(n / hot_threshold)
    # pieces (operators/pairs.py); same pair set for any value >= 1
    hot_threshold: int = 2000
    # value-level memoized scoring (operators/scoring.py): score one
    # representative per distinct payload tuple. Identical scored rows
    # either way; flip on for clone-heavy corpora (measured 3×/10.4× at
    # k=8/k=64 on 26.8× duplication — 08a9d5d:BENCH/memoize_regimes.json;
    # bench.py's sf1 osa_scoring_memoized re-measures k=8).
    memoize_scoring: bool = False
    # entity formation: "cc" (transitive closure — the north rule's default,
    # highest recall), "pivot" (KwikCluster correlation clustering — bridge-
    # edge-robust, every cluster a radius-1 star around a verified pivot),
    # "star" (one-round star clustering), or "merge_center" (MERGE-CENTER).
    # All four are deterministic and id-type-generic; see
    # operators/clustering.py. cc keeps the reliable per-round parquet
    # checkpoints; the alternatives truncate lineage locally (pivot's rounds
    # are O(log n) like the closure's).
    cluster_method: str = "cc"
    force: bool = False
    stage_times: dict = field(default_factory=dict)


def _clusters_stage_name(cfg: LinkageConfig, prefix: str = "") -> str:
    # cluster_method is the first config knob that CHANGES stage output, so
    # it must be part of the stage identity — otherwise resuming a
    # checkpoint dir with a different method would silently return the
    # previous method's cached labels. "cc" keeps the legacy bare name so
    # existing checkpoints stay resumable.
    base = f"{prefix}clusters"
    return base if cfg.cluster_method == "cc" else f"{base}_{cfg.cluster_method}"


def _form_entities(cfg: LinkageConfig, ids, edges, cc_rounds_dir: str):
    method = cfg.cluster_method
    if method == "cc":
        return cluster_labels(ids, edges, checkpoint_dir=cc_rounds_dir)
    if method == "pivot":
        return pivot_labels(ids, edges)
    if method == "star":
        return star_labels(ids, edges).select("id", "cluster_id")
    if method == "merge_center":
        return merge_center_labels(ids, edges)
    raise ValueError(f"unknown cluster_method: {method!r}")


def run_linkage(spark: SparkSession, source: DataFrame, cfg: LinkageConfig) -> dict:
    """Run (or resume) the full pipeline; returns handles to every stage."""
    wh = Warehouse(spark, cfg.checkpoint_dir)

    normalized = _stage(wh, cfg, "normalized", lambda: normalize(source, cfg.prefix_len))
    blocks = _stage(
        wh, cfg, "blocks", lambda: exploded_blocks(normalized, len_band=cfg.len_band)
    )
    pairs = _stage(
        wh,
        cfg,
        "pairs",
        lambda: candidate_pairs(blocks, cfg.hot_threshold),
    )
    scored = _stage(
        wh,
        cfg,
        "scored",
        lambda: score_pairs(
            attach_pair_payload(
                pairs, normalized, ["sha", "path_base", "content_prefix"]
            ),
            cfg.k_content,
            cfg.k_path,
            memoize=cfg.memoize_scoring,
        ),
    )
    edges = _stage(wh, cfg, "edges", lambda: edges_of(scored))
    # the closure loop's per-round lineage truncation is reliable here: each
    # round lands under the same checkpoint dir as the stage tables, so an
    # executor loss can only recompute the in-flight round
    clusters = _stage(
        wh,
        cfg,
        _clusters_stage_name(cfg),
        lambda: _form_entities(
            cfg, normalized.select("id"), edges, f"{cfg.checkpoint_dir}/cc_rounds"
        ),
    )

    # Per-row invariant (input_hint): sha256(content) must survive the
    # pipeline unchanged — recompute from source and anti-join.
    drift = (
        normalized.select("id", "sha")
        .join(
            normalize(source, cfg.prefix_len).select("id", F.col("sha").alias("sha2")),
            "id",
        )
        .where(F.col("sha") != F.col("sha2"))
        .count()
    )
    if drift:
        raise AssertionError(f"sha256 invariant violated for {drift} rows")

    return {
        "normalized": normalized,
        "blocks": blocks,
        "pairs": pairs,
        "scored": scored,
        "edges": edges,
        "clusters": clusters,
        "warehouse": wh,
    }


def run_incremental_linkage(
    spark: SparkSession,
    delta_source: DataFrame,
    cfg: LinkageConfig,
    batch_id: str = "delta",
    base_prefix: str = "",
) -> dict:
    """Link a delta batch of NEW records against an already-run pipeline
    warehouse without re-pairing the base against itself.

    Reads the base ``{base_prefix}normalized`` / ``{base_prefix}blocks`` /
    ``{base_prefix}edges`` stage tables from ``cfg.checkpoint_dir`` (run
    :func:`run_linkage` there first). Blocking keys are per-record, so the
    full candidate set partitions exactly into base×base ∪ delta×base ∪
    delta×delta — base×base edges are reused from the checkpoint, delta×base
    candidates come from the bipartite salted join (``candidate_pairs_lr``),
    and only the delta blocks self-join. Compute scales with |delta|·fanout,
    not |corpus|²; the resulting labels are identical to a full-batch re-run
    (pinned in tests/test_pipeline_e2e.py::test_incremental_matches_full_batch).

    Every delta stage checkpoints as ``{batch_id}_*`` with the same resume +
    lineage metrics semantics as the batch plan; the refreshed full-corpus
    labels land in ``{batch_id}_clusters``. For the NEXT batch, the merged
    ``{batch_id}_all_normalized`` / ``_all_blocks`` / ``_all_edges`` tables
    are also written — pass ``base_prefix=f"{batch_id}_all_"`` to chain
    day-over-day batches, each one reusing everything before it (pinned in
    ...::test_incremental_chained_batches).

    Guards (both raise instead of silently corrupting / going stale):

    * delta ids must be disjoint from base ids (new records only — an
      overlapping id would duplicate pairs and labels);
    * a resumed ``batch_id`` must carry the SAME delta id set it was first
      run with (fixed stage names would otherwise silently return the first
      batch's tables for a different delta).
    """
    wh = Warehouse(spark, cfg.checkpoint_dir)
    base_tables = [f"{base_prefix}{t}" for t in ("normalized", "blocks", "edges")]
    for t in base_tables:
        if not wh.exists(t):
            raise ValueError(
                f"base stage '{t}' missing from {cfg.checkpoint_dir}; run run_linkage first"
            )
    base_norm = wh.read(base_tables[0])
    base_blocks = wh.read(base_tables[1])
    base_edges = wh.read(base_tables[2]).select("src", "dst")

    fresh_norm = normalize(delta_source, cfg.prefix_len)
    overlap = fresh_norm.select("id").join(base_norm.select("id"), "id").count()
    if overlap:
        raise ValueError(
            f"{overlap} delta ids already exist in the base — incremental linkage "
            "takes new records only (re-run the batch plan for updates)"
        )

    resumed = wh.exists(f"{batch_id}_normalized")
    delta_norm = _stage(wh, cfg, f"{batch_id}_normalized", lambda: fresh_norm)
    if resumed:
        stale = (
            delta_norm.select("id").join(fresh_norm.select("id"), "id", "left_anti").count()
            + fresh_norm.select("id").join(delta_norm.select("id"), "id", "left_anti").count()
        )
        if stale:
            raise ValueError(
                f"batch_id '{batch_id}' was already run with a different delta "
                f"({stale} ids differ) — use a fresh batch_id per batch"
            )
    delta_blocks = _stage(
        wh,
        cfg,
        f"{batch_id}_blocks",
        lambda: exploded_blocks(delta_norm, len_band=cfg.len_band),
    )

    def build_pairs() -> DataFrame:
        cross = candidate_pairs_lr(delta_blocks, base_blocks, cfg.hot_threshold).select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
        )
        within = candidate_pairs(delta_blocks, cfg.hot_threshold).select("id_a", "id_b")
        return cross.unionByName(within)

    delta_pairs = _stage(wh, cfg, f"{batch_id}_pairs", build_pairs)
    all_norm = base_norm.unionByName(delta_norm)
    delta_scored = _stage(
        wh,
        cfg,
        f"{batch_id}_scored",
        lambda: score_pairs(
            attach_pair_payload(
                delta_pairs, all_norm, ["sha", "path_base", "content_prefix"]
            ),
            cfg.k_content,
            cfg.k_path,
            memoize=cfg.memoize_scoring,
        ),
    )
    delta_edges = _stage(wh, cfg, f"{batch_id}_edges", lambda: edges_of(delta_scored))
    all_edges = base_edges.unionByName(delta_edges.select("src", "dst"))
    clusters = _stage(
        wh,
        cfg,
        _clusters_stage_name(cfg, prefix=f"{batch_id}_"),
        lambda: _form_entities(
            cfg,
            all_norm.select("id"),
            all_edges,
            f"{cfg.checkpoint_dir}/cc_rounds_{batch_id}",
        ),
    )
    # merged tables = the NEXT batch's base (base_prefix=f"{batch_id}_all_")
    merged_norm = _stage(wh, cfg, f"{batch_id}_all_normalized", lambda: all_norm)
    merged_blocks = _stage(
        wh, cfg, f"{batch_id}_all_blocks", lambda: base_blocks.unionByName(delta_blocks)
    )
    merged_edges = _stage(wh, cfg, f"{batch_id}_all_edges", lambda: all_edges)

    # same per-row invariant as the batch plan, over the delta only
    drift = (
        delta_norm.select("id", "sha")
        .join(fresh_norm.select("id", F.col("sha").alias("sha2")), "id")
        .where(F.col("sha") != F.col("sha2"))
        .count()
    )
    if drift:
        raise AssertionError(f"sha256 invariant violated for {drift} delta rows")

    return {
        "delta_normalized": delta_norm,
        "delta_blocks": delta_blocks,
        "delta_pairs": delta_pairs,
        "delta_scored": delta_scored,
        "delta_edges": delta_edges,
        "all_normalized": merged_norm,
        "all_blocks": merged_blocks,
        "all_edges": merged_edges,
        "clusters": clusters,
        "warehouse": wh,
    }
