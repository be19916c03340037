"""End-to-end record-linkage plan with checkpoint/resume and lineage metrics.

Stage graph (SURVEY.md §3.4)::

    normalized → blocks → scored → clusters
                            ├─ pairs = scored[id_a, id_b, n_keys]
                            └─ edges = scored where is_match

Every stage is written to the warehouse (Iceberg or Parquet) together with a
per-write-task lineage metrics table. A re-run skips stages whose table
already exists — kill the job after any stage and the next run resumes from
there (north_rule: resumable from checkpoint). ``force=True`` recomputes
everything.

``scored`` generates, scores and writes the candidate pairs in one stage,
so each pair is written once: the pair stream and the edge list are
projections of it, never tables. A retried task or a lost executor inside
the stage recomputes from Spark's shuffle files; only a driver kill
reaches the checkpoint, and then the resume regenerates the pairs with
their scores. The pair counters (``candidates``, ``exact_dupes``,
``edges``) are observed on the ``scored`` write: no job of their own.

``normalized`` holds the record projection ``RECORD_COLUMNS``: the identity
columns and what blocking, scoring and the closure read. It does not hold
``content``; ``sha`` (sha256 of the content) carries it. The per-row
invariant (input_hint: ``sha256(content)`` equal end to end) is checked on
two order-insensitive folds ``(count, bit_xor(xxhash64(id, sha)))``: one
observed on the ``normalized`` write (or computed over the checkpoint when
the stage resumes), one over ``normalize(source)``. A checkpoint whose
records differ from the source — an edited sha, an added or a removed row —
raises instead of returning stale labels.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

from levenshtein_spark.operators.blocking import exploded_blocks
from levenshtein_spark.operators.clustering import (
    cluster_labels,
    merge_center_labels,
    pivot_labels,
    star_labels,
)
from levenshtein_spark.operators.normalize import normalize
from levenshtein_spark.operators.pairs import (
    _lr_meetings,
    attach_pair_payload,
    candidate_pairs,
)
from levenshtein_spark.operators.scoring import edges as edges_of
from levenshtein_spark.operators.scoring import score_pairs
from levenshtein_spark.plans.stages import run_stage as _stage
from levenshtein_spark.sources.tables import Warehouse


# The columns of a ``normalized`` stage: identity (repo, path, commit, id),
# blocking (lang, content_len, path_tokens) and scoring (sha, path_base,
# content_prefix). ``content`` is read only from the source, by ``normalize``.
RECORD_COLUMNS = (
    "repo", "path", "commit", "lang", "id", "sha",
    "content_len", "content_prefix", "path_base", "path_tokens",
)


def _fold_columns():
    # (count, XOR of the row hashes): order-insensitive, and the XOR cannot
    # overflow under ANSI mode (the closure's round signature is the same fold)
    return (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("id", "sha")), F.lit(0)).alias("h"),
    )


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


def clusters_stage_name(cfg: LinkageConfig, prefix: str = "") -> str:
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


def _records(source: DataFrame, cfg: LinkageConfig) -> DataFrame:
    return normalize(source, cfg.prefix_len).select(*RECORD_COLUMNS)


def _observed(obs: Observation) -> tuple[int, int]:
    return int(obs.get["n"]), int(obs.get["h"])


def _fold(df: DataFrame) -> tuple[int, int]:
    """The fold of ``df`` in one Spark job: an observed no-op write."""
    obs = Observation()
    df.select("id", "sha").observe(obs, *_fold_columns()).write.format("noop").mode("overwrite").save()
    return _observed(obs)


def _records_stage(wh: Warehouse, cfg: LinkageConfig, name: str, records: DataFrame):
    """The records stage ``name``, checked against ``records``: returns the
    stage and None when both fold the same, else the number of ids only in
    the stage, only in ``records``, and with another sha, counted by a join
    that runs only on a mismatch. Read back as ``RECORD_COLUMNS``, also from
    a checkpoint written with more columns.

    A fresh write observes its fold in its own job. A resumed stage never
    runs the observed frame (``Observation.get`` would block), so its fold
    is one job over the checkpoint."""
    obs = Observation()
    built = []

    def build() -> DataFrame:
        built.append(name)
        return records.observe(obs, *_fold_columns())

    out = _stage(wh, cfg, name, build).select(*RECORD_COLUMNS)
    if (_observed(obs) if built else _fold(out)) == _fold(records):
        return out, None
    joined = out.select("id", "sha").join(
        records.select("id", F.col("sha").alias("fresh_sha")), "id", "full_outer"
    )
    row = joined.agg(
        F.count_if(F.col("fresh_sha").isNull()),
        F.count_if(F.col("sha").isNull()),
        F.count_if(F.col("sha") != F.col("fresh_sha")),
    ).first()
    return out, (int(row[0]), int(row[1]), int(row[2]))


def _counter_columns():
    return (
        F.count(F.lit(1)).alias("candidates"),
        F.count_if("exact_dupe").alias("exact_dupes"),
        F.count_if("is_match").alias("edges"),
    )


def pair_counters(scored: DataFrame) -> dict:
    """The counters ``run_linkage`` observes on the ``scored`` write,
    computed in one job over a ``scored`` table: for a resumed stage, whose
    write was never observed."""
    return scored.agg(*_counter_columns()).first().asDict()


def _scored_stage(wh: Warehouse, cfg: LinkageConfig, name: str, pairs, records: DataFrame):
    """The scored stage ``name``: the candidate pairs built by ``pairs()``,
    their payload attached from ``records``, scored and written once. The
    pair stream and the edges are projections of it, so neither is written.
    Returns the stage and its counters (``candidates``, ``exact_dupes``,
    ``edges``), observed on the write with no job of their own, or None
    when the stage resumed.

    A ``scored`` checkpoint without ``n_keys`` (written when the pairs were
    a stage of their own) is recomputed: its pair projection would not
    resolve."""
    obs = Observation()
    built = []

    def build() -> DataFrame:
        built.append(name)
        fat = attach_pair_payload(pairs(), records, ["sha", "path_base", "content_prefix"])
        scored = score_pairs(fat, cfg.k_content, cfg.k_path, memoize=cfg.memoize_scoring)
        return scored.observe(obs, *_counter_columns())

    stale = wh.exists(name) and "n_keys" not in wh.read(name).columns
    out = _stage(wh, replace(cfg, force=True) if stale else cfg, name, build)
    return out, (obs.get if built else None)


def _pairs_of(scored: DataFrame) -> DataFrame:
    return scored.select("id_a", "id_b", "n_keys")


def run_linkage(spark: SparkSession, source: DataFrame, cfg: LinkageConfig) -> dict:
    """Run (or resume) the full pipeline; returns handles to every stage,
    ``pairs`` and ``edges`` as projections of ``scored``, and the pair
    ``counters`` observed on the ``scored`` write (None when it resumed;
    :func:`pair_counters` computes them)."""
    wh = Warehouse(spark, cfg.checkpoint_dir)

    # Per-row invariant (input_hint): the checkpointed records are the
    # source's, sha256(content) included; checked before any later stage
    # resumes from them.
    normalized, drift = _records_stage(wh, cfg, "normalized", _records(source, cfg))
    if drift:
        gone, new, changed = drift
        raise AssertionError(
            "sha256 invariant violated: the normalized checkpoint differs from the "
            f"source ({gone} ids gone, {new} new, {changed} with another sha). Re-run "
            "with force=True to rebuild from this source, or link new records "
            "against the checkpoint with run_incremental_linkage."
        )
    blocks = _stage(
        wh, cfg, "blocks", lambda: exploded_blocks(normalized, len_band=cfg.len_band)
    )
    scored, counters = _scored_stage(
        wh, cfg, "scored", lambda: candidate_pairs(blocks, cfg.hot_threshold), normalized
    )
    edges = edges_of(scored)
    # the closure loop's per-round lineage truncation is reliable here: each
    # round lands under the same checkpoint dir as the stage tables, so an
    # executor loss can only recompute the in-flight round
    clusters = _stage(
        wh,
        cfg,
        clusters_stage_name(cfg),
        lambda: _form_entities(
            cfg, normalized.select("id"), edges, f"{cfg.checkpoint_dir}/cc_rounds"
        ),
    )

    return {
        "normalized": normalized,
        "blocks": blocks,
        "pairs": _pairs_of(scored),
        "scored": scored,
        "edges": edges,
        "clusters": clusters,
        "counters": counters,
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
    ``{base_prefix}scored`` stage tables from ``cfg.checkpoint_dir`` (run
    :func:`run_linkage` there first). Blocking keys are per-record, so the
    full candidate set partitions exactly into base×base ∪ delta×base ∪
    delta×delta — base×base edges are the ``is_match`` rows of the base
    ``scored``, delta×base candidates come from the bipartite salted join
    (``_lr_meetings``, counted into ``n_keys``), and only the delta blocks
    self-join. Compute scales with |delta|·fanout, not |corpus|²; the
    resulting labels are identical to a full-batch re-run (pinned in
    tests/test_pipeline_e2e.py::test_incremental_matches_full_batch).

    Every delta stage checkpoints as ``{batch_id}_*`` with the same resume +
    lineage metrics semantics as the batch plan: ``{batch_id}_normalized``,
    ``_blocks``, ``_scored`` (the delta pairs and edges are projections of
    it, as in the batch plan) and the refreshed full-corpus labels in
    ``{batch_id}_clusters``. For the NEXT batch, the merged
    ``{batch_id}_all_normalized`` / ``_all_blocks`` / ``_all_scored`` (base
    ∪ delta scored pairs) tables are also written, so a merged prefix has the
    layout of a batch checkpoint — pass ``base_prefix=f"{batch_id}_all_"`` to
    chain day-over-day batches, each one reusing everything before it
    (pinned in ...::test_incremental_chained_batches).

    Guards (both raise instead of silently corrupting / going stale):

    * delta ids must be disjoint from base ids (new records only — an
      overlapping id would duplicate pairs and labels);
    * a resumed ``batch_id`` must carry the SAME delta records it was first
      run with (fixed stage names would otherwise silently return the first
      batch's tables for a different delta): the delta's records fold the
      same way as ``{batch_id}_normalized``, the batch plan's invariant.

    The ``normalized`` tables hold ``RECORD_COLUMNS`` only.
    """
    wh = Warehouse(spark, cfg.checkpoint_dir)
    base_tables = [f"{base_prefix}{t}" for t in ("normalized", "blocks", "scored")]
    for t in base_tables:
        if not wh.exists(t):
            raise ValueError(
                f"base stage '{t}' missing from {cfg.checkpoint_dir}; run run_linkage first"
            )
    # an explicit projection: a base written with ``content`` still unions
    base_norm = wh.read(base_tables[0]).select(*RECORD_COLUMNS)
    base_blocks = wh.read(base_tables[1])
    base_scored = wh.read(base_tables[2])

    fresh_norm = _records(delta_source, cfg)
    overlap = fresh_norm.select("id").join(base_norm.select("id"), "id").count()
    if overlap:
        raise ValueError(
            f"{overlap} delta ids already exist in the base — incremental linkage "
            "takes new records only (re-run the batch plan for updates)"
        )

    # same per-row invariant as the batch plan, over the delta only
    delta_norm, drift = _records_stage(wh, cfg, f"{batch_id}_normalized", fresh_norm)
    if drift:
        gone, new, changed = drift
        if gone or new:
            raise ValueError(
                f"batch_id '{batch_id}' was already run with a different delta "
                f"({gone + new} ids differ) — use a fresh batch_id per batch"
            )
        raise AssertionError(f"sha256 invariant violated for {changed} delta rows")
    delta_blocks = _stage(
        wh,
        cfg,
        f"{batch_id}_blocks",
        lambda: exploded_blocks(delta_norm, len_band=cfg.len_band),
    )

    def build_pairs() -> DataFrame:
        # one meeting per shared key, as in candidate_pairs: n_keys counts them
        cross = _lr_meetings(
            delta_blocks.select("block_key", "id"),
            base_blocks.select("block_key", "id"),
            cfg.hot_threshold,
        )
        cross = cross.groupBy(
            F.least("id_l", "id_r").alias("id_a"), F.greatest("id_l", "id_r").alias("id_b")
        ).agg(F.count(F.lit(1)).alias("n_keys"))
        return cross.unionByName(candidate_pairs(delta_blocks, cfg.hot_threshold))

    all_norm = base_norm.unionByName(delta_norm)
    delta_scored, counters = _scored_stage(wh, cfg, f"{batch_id}_scored", build_pairs, all_norm)
    delta_edges = edges_of(delta_scored)
    all_edges = edges_of(base_scored).unionByName(delta_edges)
    clusters = _stage(
        wh,
        cfg,
        clusters_stage_name(cfg, prefix=f"{batch_id}_"),
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
    # a base scored written before it carried n_keys merges with NULL n_keys
    merged_scored = _stage(
        wh,
        cfg,
        f"{batch_id}_all_scored",
        lambda: base_scored.unionByName(delta_scored, allowMissingColumns=True),
    )

    return {
        "delta_normalized": delta_norm,
        "delta_blocks": delta_blocks,
        "delta_pairs": _pairs_of(delta_scored),
        "delta_scored": delta_scored,
        "delta_edges": delta_edges,
        "all_normalized": merged_norm,
        "all_blocks": merged_blocks,
        "all_scored": merged_scored,
        "clusters": clusters,
        "counters": counters,
        "warehouse": wh,
    }
