"""ER-methodology queries: sorted-neighborhood blocking, blocking-quality
metrics, and Fellegi–Sunter weighted match scoring.

These are the evaluation/decision layer of a record-linkage system — the
reference stops at distances (its host-SQL queries filter and arg-min,
doc/Usage.md:101-189), but an engine run at corpus scale needs (a) a
skew-proof second blocking family, (b) a measured answer to "how good is my
blocking?", and (c) a principled match/possible/non-match decision rule on
top of the per-field comparisons.

* ``snm_pairs`` — sliding-window candidates over the c_name sort order
  (operators/snm.py; window 10).
* ``blocking_metrics_snm`` — reduction ratio / pairs completeness / pairs
  quality of those candidates against the exact dist<=1 gold edge set (the
  customer linkage track's edge rule, whose pigeonhole blocking is lossless,
  so the gold is exact, not sampled).
* ``fs_match_weights`` — Fellegi–Sunter log-likelihood weights over (name
  within edit distance 1, same nation, same market segment) on the segment-
  blocked candidate universe; weights are constants injected identically
  into both engines (operators/scoring.py:fellegi_sunter_weight).
* ``top_k_neighbors`` — the per-record match-candidates list (every record's
  k nearest names by capped edit distance within the blocked universe) —
  the all-records shape of the reference's closest-match query
  (doc/Usage.md:178-189), where ``top_k_matches`` covers the broadcast
  few-probes shape.
* ``linkage_f1`` — THE BASELINE metric (pairwise F1 vs gold) as a
  driver-checked row: the pipeline's edge set scored against a gold edge
  set produced by a structurally independent blocking scheme (Ed-Join
  q-gram prefix filter vs the pipeline's digit-segment pigeonhole); the
  DuckDB twin computes gold by brute force.
* ``linkage_cluster_f1_snm`` — cluster-level co-membership F1 of a
  deliberately lossy predictor (single-pass SNM blocking) vs the gold
  transitive closure: the non-trivial case that shows the metric machinery
  catches blocking recall loss after clustering amplifies it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from levenshtein_spark.session import scoped_persist
from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.driver_queries.linkage import (
    _CUST_EDGES,
    _CUST_PAIRS,
    _customer_blocks,
    _customer_scored,
)
from levenshtein_spark.operators.packing import global_prefix_sum
from levenshtein_spark.functions.distance import bounded_edit_dist
from levenshtein_spark.operators.clustering import cluster_labels
from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
from levenshtein_spark.operators.scoring import edges as edges_of
from levenshtein_spark.operators.scoring import fellegi_sunter_weight, fs_classify
from levenshtein_spark.operators.snm import sorted_neighborhood_pairs

_SNM_WINDOW = 10

# Fellegi–Sunter model: (field, m = P(agree | match), u = P(agree | unmatch)).
# u for the categorical fields ~ 1/cardinality (25 nations, 5 segments).
_FS_NAME = (0.95, 0.002)
_FS_NATION = (0.95, 0.04)
_FS_SEGMENT = (0.8, 0.2)
_FS_UPPER = 8.0
_FS_LOWER = 0.0


def _weights() -> dict[str, float]:
    import math

    out = {}
    for name, (m, u) in (("name", _FS_NAME), ("nation", _FS_NATION), ("seg", _FS_SEGMENT)):
        out[f"{name}_a"] = round(math.log2(m / u), 6)
        out[f"{name}_d"] = round(math.log2((1 - m) / (1 - u)), 6)
    return out


def q_snm_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Sorted-neighborhood candidates: (earlier id, later id, position gap)."""
    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("skey")
    )
    return sorted_neighborhood_pairs(c, ["skey", "id"], window=_SNM_WINDOW).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("gap").cast("long").alias("gap"),
    )


def q_blocking_metrics_snm(spark: SparkSession, sf: str) -> DataFrame:
    """One-row blocking scorecard for single-pass SNM vs exact gold.

    reduction_ratio  = 1 - candidates / all_pairs
    pairs_completeness = covered_gold / gold        (blocking recall)
    pairs_quality      = covered_gold / candidates  (blocking precision)
    """
    cand = q_snm_pairs(spark, sf).select(
        F.least("id_a", "id_b").alias("src"), F.greatest("id_a", "id_b").alias("dst")
    )
    return _snm_scorecard(spark, sf, cand)


def q_blocking_metrics_snm_multipass(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-pass SNM scorecard: union of two sort orders (name, reversed
    name) — the classic mitigation for single-pass SNM's blind spot (a match
    whose sort keys diverge early sorts far apart; a second pass over a
    different key ordering catches most of them). Candidate volume ~doubles;
    pairs completeness rises much faster (measured by this query vs
    ``blocking_metrics_snm``)."""
    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("skey"),
        F.reverse(F.col("c_name")).alias("rkey"),
    )
    p1 = sorted_neighborhood_pairs(c, ["skey", "id"], window=_SNM_WINDOW)
    p2 = sorted_neighborhood_pairs(c, ["rkey", "id"], window=_SNM_WINDOW)
    cand = (
        p1.unionByName(p2)
        .select(F.least("id_a", "id_b").alias("src"), F.greatest("id_a", "id_b").alias("dst"))
        .distinct()
    )
    return _snm_scorecard(spark, sf, cand)


def _snm_scorecard(spark: SparkSession, sf: str, cand: DataFrame) -> DataFrame:
    gold = edges_of(_customer_scored(spark, sf)).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    n_records = tbl(spark, sf, "customer").count()
    agg = (
        cand.withColumn("is_cand", F.lit(True))
        .join(gold.withColumn("is_gold", F.lit(True)), ["src", "dst"], "full_outer")
        .agg(
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.when(F.col("is_cand"), 1).otherwise(0)).alias("n_candidates"),
            F.sum(F.when(F.col("is_gold"), 1).otherwise(0)).alias("n_gold"),
            F.sum(F.when(F.col("is_cand") & F.col("is_gold"), 1).otherwise(0)).alias(
                "n_covered"
            ),
        )
    )
    total_pairs = n_records * (n_records - 1) // 2
    return agg.select(
        F.lit(n_records).cast("long").alias("n_records"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_gold").cast("long").alias("n_gold"),
        F.col("n_covered").cast("long").alias("n_covered"),
        F.round(
            F.lit(1.0) - F.col("n_candidates") / F.lit(float(total_pairs)), 6
        ).alias("reduction_ratio"),
        F.round(F.col("n_covered") / F.col("n_gold"), 6).alias("pairs_completeness"),
        F.round(F.col("n_covered") / F.col("n_candidates"), 6).alias("pairs_quality"),
    )


def q_fs_match_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Fellegi–Sunter weighted scoring over the segment-blocked candidates."""
    from levenshtein_spark.driver_queries.linkage import _customer_blocks

    c = tbl(spark, sf, "customer")
    records = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
    )
    blocks = _customer_blocks(spark, sf)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    fat = attach_pair_payload(pairs, records, ["name", "nation", "seg"])
    name_agree = bounded_edit_dist("name_a", "name_b", 1) <= 1
    nation_agree = F.col("nation_a") == F.col("nation_b")
    seg_agree = F.col("seg_a") == F.col("seg_b")
    scored = fat.select(
        "id_a",
        "id_b",
        name_agree.alias("name_agree"),
        nation_agree.alias("nation_agree"),
        seg_agree.alias("seg_agree"),
    )
    weight = fellegi_sunter_weight(
        [
            (F.col("name_agree"), *_FS_NAME),
            (F.col("nation_agree"), *_FS_NATION),
            (F.col("seg_agree"), *_FS_SEGMENT),
        ]
    )
    return scored.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "name_agree",
        "nation_agree",
        "seg_agree",
        F.round(weight, 6).alias("weight"),
        fs_classify(weight, _FS_UPPER, _FS_LOWER).alias("match_class"),
    )


_NBR_CAP = 2
_NBR_TOP = 3


def q_top_k_neighbors(spark: SparkSession, sf: str) -> DataFrame:
    """Each record's 3 nearest neighbor names (Levenshtein <= 2) within the
    segment-blocked candidate universe.

    The scalable all-records complement to ``operators.closest.top_k_matches``
    (which broadcasts a small probe set): candidates come from the salted
    slim-pair operator, each unordered pair is scored once, then mirrored
    into both per-record adjacency directions — so the window rank sorts a
    per-record neighbor list bounded by the blocking fan-out, never a
    cross-join. Spark compiles the rank filter to WindowGroupLimit (top-k
    pushed below the sort; asserted in tests/test_plans.py).
    """
    from levenshtein_spark.driver_queries.linkage import _customer_blocks

    records = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    # persisted: blocks feed the pair operator three ways (census + both
    # join sides); scored feeds BOTH branches of the symmetrizing
    # union — without it the salted join and the Arrow scoring run twice
    blocks = _customer_blocks(spark, sf).transform(scoped_persist)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    fat = attach_pair_payload(pairs, records, ["name"])
    scored = (
        fat.select(
            "id_a", "id_b", bounded_edit_dist("name_a", "name_b", _NBR_CAP).alias("d")
        )
        .where(F.col("d") <= _NBR_CAP)
        .transform(scoped_persist)
    )
    sym = scored.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "d"
    ).unionByName(scored.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "d"))
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("d").asc(), F.col("nbr").asc())
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _NBR_TOP)
        .select(
            F.col("id").cast("long").alias("id"),
            F.col("nbr").cast("long").alias("nbr"),
            F.col("d").cast("long").alias("d"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _gold_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The exact gold edge set (same nation AND c_name within Levenshtein 1)
    computed WITHOUT the pipeline's blocking: candidates come from the
    Ed-Join q-gram prefix filter (operators/simjoin.py), a content-based
    lossless generator that shares nothing with the digit-segment pigeonhole
    the pipeline blocks on. Two independent lossless schemes agreeing — and
    both hash-matching DuckDB's brute force — is the strongest losslessness
    evidence a single driver row can carry. Scale shape: the quadratic
    brute force exists only in the DuckDB oracle; this side is fully
    blocked, salted, and slim."""
    from levenshtein_spark.operators.simjoin import edit_distance_self_join

    c = tbl(spark, sf, "customer")
    names = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
    )
    pairs = edit_distance_self_join(
        names.select("id", "name"), "name", k=1, q=3,
        hot_threshold=500,
    ).select("id_a", "id_b")
    fat = attach_pair_payload(pairs, names.select("id", "nation"), ["nation"])
    return fat.where(F.col("nation_a") == F.col("nation_b")).select(
        F.col("id_a").cast("long").alias("src"), F.col("id_b").cast("long").alias("dst")
    )


def _pair_prf(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """One-row scorecard: n_pred/n_gold/tp/fp/fn + precision/recall/F1 of
    two edge sets (both keyed src < dst). Integer counts divided as doubles
    and rounded to 6 — bit-identical across engines."""
    agg = (
        pred.withColumn("is_pred", F.lit(True))
        .join(gold.withColumn("is_gold", F.lit(True)), ["src", "dst"], "full_outer")
        .agg(
            F.sum(F.when(F.col("is_pred"), 1).otherwise(0)).alias("n_pred"),
            F.sum(F.when(F.col("is_gold"), 1).otherwise(0)).alias("n_gold"),
            F.sum(F.when(F.col("is_pred") & F.col("is_gold"), 1).otherwise(0)).alias("tp"),
        )
    )
    n_pred, n_gold, tp = F.col("n_pred"), F.col("n_gold"), F.col("tp")
    return agg.select(
        n_pred.cast("long").alias("n_pred"),
        n_gold.cast("long").alias("n_gold"),
        tp.cast("long").alias("tp"),
        (n_pred - tp).cast("long").alias("fp"),
        (n_gold - tp).cast("long").alias("fn"),
        F.round(tp.cast("double") / n_pred, 6).alias("precision"),
        F.round(tp.cast("double") / n_gold, 6).alias("recall"),
        F.round(F.lit(2.0) * tp / (n_pred + n_gold), 6).alias("f1"),
    )


def q_linkage_f1(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise F1 of the linkage pipeline's edges vs gold — the BASELINE
    acceptance metric (pairwise F1 >= 0.99 on labeled pairs), continuously
    verified by the driver's hash check instead of only by pytest
    (tests/test_pipeline_e2e.py pins the fixture-corpus variant). Expected
    value is exactly 1.0: the digit-segment pigeonhole is lossless for the
    dist<=1 edge rule and the kernel distance is exact, so any value below
    1.0 — or any hash mismatch vs the brute-force oracle — is a blocking or
    scoring regression."""
    pred = edges_of(_customer_scored(spark, sf)).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    return _pair_prf(pred, _gold_edges(spark, sf))


def _intra_cluster_pairs(labels: DataFrame) -> DataFrame:
    """Co-membership pairs (src < dst) of a labeling. Fan-out is bounded by
    the largest cluster (the linkage_cluster_stats histogram is the guard
    that stays small); the self-join shuffles on cluster_id only."""
    slim = labels.select(F.col("id").cast("long").alias("id"), "cluster_id")
    a = slim.select("cluster_id", F.col("id").alias("src"))
    b = slim.select("cluster_id", F.col("id").alias("dst"))
    return a.join(b, "cluster_id").where(F.col("src") < F.col("dst")).select("src", "dst")


def q_linkage_cluster_f1_snm(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-level (co-membership pairwise) F1 of an SNM-blocked linkage
    vs the gold closure — the metric the BASELINE names, exercised on a
    predictor that is genuinely lossy (single-pass sorted-neighborhood,
    window 10, pairs completeness ~0.34 per ``blocking_metrics_snm``), so
    the row carries a non-trivial value. Because SNM edges are scored with
    the exact rule they are a SUBSET of gold edges; a subset of edges yields
    a finer partition, so precision stays 1.0 and the number that moves is
    recall. Measured at sf0.01: cluster-level recall 0.127 vs edge-level
    pairs completeness 0.339 — clustering AMPLIFIES blocking recall loss
    (a gold cluster of size s carries s·(s-1)/2 co-membership pairs, so the
    large clusters SNM fragments dominate the denominator), which is
    exactly why ER evaluation needs this metric in addition to the
    edge-level scorecard."""
    c = tbl(spark, sf, "customer")
    ids = c.select(F.col("c_custkey").cast("long").alias("id"))
    pred_pairs = _intra_cluster_pairs(
        cluster_labels(ids, _snm_pred_edges(spark, sf))
    )
    gold_pairs = _intra_cluster_pairs(cluster_labels(ids, _gold_edges(spark, sf)))
    return _pair_prf(pred_pairs, gold_pairs)


def _snm_pred_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The deliberately lossy predictor the cluster-level metrics evaluate:
    single-pass SNM candidates scored with the exact edge rule (same nation,
    name within edit distance 1) — a strict SUBSET of gold edges."""
    c = tbl(spark, sf, "customer")
    records = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
    )
    cand = q_snm_pairs(spark, sf).select(
        F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b")
    )
    fat = attach_pair_payload(cand, records, ["name", "nation"])
    return fat.where(
        (F.col("nation_a") == F.col("nation_b"))
        & (
            (F.col("name_a") == F.col("name_b"))
            | (bounded_edit_dist("name_a", "name_b", 1) <= 1)
        )
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))


_BC_Q = 1_000_000_000  # per-cell quantization scale (order-free integer sums)


def q_linkage_bcubed(spark: SparkSession, sf: str) -> DataFrame:
    """B-cubed precision/recall/F1 of the SNM-blocked linkage vs the gold
    closure — the third standard ER evaluation view next to edge-level PRF
    (``linkage_f1``) and co-membership pairwise F1
    (``linkage_cluster_f1_snm``). B-cubed averages per-RECORD overlap
    (precision(r) = |P(r) ∩ G(r)| / |P(r)|, recall(r) symmetric), so
    fragmenting a gold cluster costs linearly per record where co-membership
    pairs cost quadratically — singletons still count, and one giant wrong
    cluster can't dominate the way it dominates pairwise counts.

    Exactness discipline: computed over the (pred_cluster, gold_cluster)
    contingency table — sum of n_pg^2/|P| equals the sum of per-record
    precisions — with each cell's fraction quantized to an integer via ONE
    correctly-rounded double multiply+divide+round (the idf trick), so both
    engines sum identical integers in any order and the final three divides
    are bit-identical by construction.

    Scale shape: two label joins on id, three map-side-combining
    aggregations, one 1-row reduce — nothing wider than the record count
    ever shuffles.
    """
    c = tbl(spark, sf, "customer")
    ids = c.select(F.col("c_custkey").cast("long").alias("id"))
    pred = cluster_labels(ids, _snm_pred_edges(spark, sf)).select(
        "id", F.col("cluster_id").alias("p")
    )
    gold = cluster_labels(ids, _gold_edges(spark, sf)).select(
        "id", F.col("cluster_id").alias("g")
    )
    return bcubed_scorecard(pred.join(gold, "id"))


def bcubed_scorecard(t: DataFrame) -> DataFrame:
    """One-row B-cubed scorecard of an ``(id, p, g)`` labeling table
    (``p`` = predicted cluster, ``g`` = gold cluster); math and exactness
    discipline in :func:`q_linkage_bcubed` (factored out so tests can pin
    the arithmetic on hand-computed labelings)."""
    cells = t.groupBy("p", "g").agg(F.count(F.lit(1)).alias("n_pg"))
    psz = t.groupBy("p").agg(F.count(F.lit(1)).alias("np"))
    gsz = t.groupBy("g").agg(F.count(F.lit(1)).alias("ng"))
    qcell = lambda size: F.round(
        (F.col("n_pg") * F.col("n_pg")).cast("double") * F.lit(float(_BC_Q)) / F.col(size)
    ).cast("long")
    m = (
        cells.join(psz, "p")
        .join(gsz, "g")
        .agg(
            F.sum(qcell("np")).alias("sp"),
            F.sum(qcell("ng")).alias("sr"),
            F.sum("n_pg").alias("n"),
        )
    )
    sp, sr = F.col("sp").cast("double"), F.col("sr").cast("double")
    denom = F.col("n").cast("double") * F.lit(float(_BC_Q))
    return m.select(
        F.col("n").cast("long").alias("n_records"),
        F.round(sp / denom, 6).alias("bcubed_precision"),
        F.round(sr / denom, 6).alias("bcubed_recall"),
        F.round(
            F.lit(2.0) * sp * sr / ((F.col("sp") + F.col("sr")).cast("double") * denom), 6
        ).alias("bcubed_f1"),
    )


_JW_THRESHOLD = 0.97


def q_jw_match_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Jaro–Winkler match scoring over the blocked candidate universe — the
    companion comparator to the edit-distance scoring the pipeline runs
    (Winkler's name comparator from the Census Bureau ER line; the standard
    second feature in a Fellegi–Sunter comparison vector).

    Candidates are the same pigeonhole segment universe the linkage track
    and ``similar_names_by_nation`` use; the kernel's conventions are pinned
    bit-for-bit to DuckDB's ``jaro_winkler_similarity`` (see
    functions/jaro.py), so the twin hash-checks RAW doubles — no rounding,
    no quantization.
    """
    from levenshtein_spark.driver_queries.linkage import _customer_blocks
    from levenshtein_spark.functions.distance import jaro_winkler
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs

    blocks = _customer_blocks(spark, sf)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    c = tbl(spark, sf, "customer")
    rec = c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    fat = attach_pair_payload(pairs, rec, ["name"])
    scored = fat.select(
        "id_a", "id_b", jaro_winkler("name_a", "name_b").alias("jw")
    )
    return scored.where(F.col("jw") >= _JW_THRESHOLD)


# -- Unsupervised Fellegi–Sunter (EM) ----------------------------------------
# Fields (bit f of the agreement pattern): name within edit distance 1,
# market segment equal, account-balance bracket (floor(bal/1000)) equal.
_FS_EM_FIELDS = ["name_dist1", "segment", "bal_bracket"]
_FS_EM_ITERS = 15
_FS_EM_INIT = (0.9, 0.1, 0.01)


def q_fs_em_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Unsupervised Fellegi–Sunter parameter estimation (the Splink-style
    workflow): EM over the 2^F agreement-pattern counts of the blocked
    candidate universe — no labels anywhere.

    The distributed work is ONE map-side-combining groupBy producing at most
    2^F = 8 rows (the sufficient statistic; O(2^F) result size regardless of
    corpus scale); EM itself is O(2^F · iters) driver arithmetic
    (operators/scoring.py fs_em_fit), written in a fixed float-op order so
    the DuckDB twin — the same recurrence unrolled into iteration CTEs —
    reproduces every double bit-for-bit. Output: per-field m/u estimates,
    the agreement/disagreement odds ratios (the exp2 of the FS log-weights,
    kept as single divides for cross-engine bit-parity), and the match-class
    prevalence. EM converges to an init-dependent local maximum and u from
    BLOCKED pairs is enrichment-biased — documented estimator properties the
    tests pin; the driver row certifies engine parity, not ground truth.
    """
    from levenshtein_spark.driver_queries.linkage import _customer_blocks
    from levenshtein_spark.functions.distance import bounded_edit_dist_builtin
    from levenshtein_spark.operators.scoring import fs_em_fit

    c = tbl(spark, sf, "customer")
    records = c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
    )
    blocks = _customer_blocks(spark, sf)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    fat = attach_pair_payload(pairs, records, ["name", "seg", "bal"])
    name_agree = bounded_edit_dist_builtin("name_a", "name_b", 1) <= 1
    seg_agree = F.col("seg_a") == F.col("seg_b")
    bal_agree = F.floor(F.col("bal_a") / 1000.0) == F.floor(F.col("bal_b") / 1000.0)
    g = (
        name_agree.cast("long")
        + seg_agree.cast("long") * 2
        + bal_agree.cast("long") * 4
    )
    rows = fat.select(g.alias("g")).groupBy("g").agg(F.count(F.lit(1)).alias("cnt")).collect()
    counts = [0.0] * 8
    for r in rows:
        counts[int(r["g"])] = float(r["cnt"])
    m, u, p = fs_em_fit(counts, 3, iters=_FS_EM_ITERS, init=_FS_EM_INIT)
    out = [
        (
            _FS_EM_FIELDS[f],
            m[f],
            u[f],
            m[f] / u[f],
            (1.0 - m[f]) / (1.0 - u[f]),
            p,
        )
        for f in range(3)
    ]
    return spark.createDataFrame(
        out,
        schema="field string, m double, u double, agree_odds double, "
        "disagree_odds double, prevalence double",
    )


def _docs_weighted_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The documents-track blocking graph: CBS-weighted candidate pairs
    (same blocks + pair parameters as ``linkage_pairs``)."""
    from levenshtein_spark.driver_queries.linkage import docs_as_code_files
    from levenshtein_spark.operators.blocking import exploded_blocks
    from levenshtein_spark.operators.normalize import normalize

    n = normalize(docs_as_code_files(spark, sf), prefix_len=64)
    blocks = exploded_blocks(n, len_band=32).transform(scoped_persist)
    return candidate_pairs(blocks, hot_threshold=200)


def q_metablocking_wnp(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted-node pruning (OR variant) of the documents blocking graph:
    an edge survives if its CBS weight clears the local mean of at least
    one endpoint. Exact integer cross-multiplication — no float means —
    so the DuckDB twin hash-matches by construction."""
    from levenshtein_spark.operators.metablocking import weighted_node_prune

    pruned = weighted_node_prune(_docs_weighted_pairs(spark, sf).transform(scoped_persist))
    return pruned.select(
        "id_a", "id_b", F.col("n_keys").cast("long").alias("n_keys")
    )


def q_metablocking_wep(spark: SparkSession, sf: str) -> DataFrame:
    """Weight-edge pruning: keep edges at or above the global mean CBS
    weight (w * n_edges >= total_weight, exact int64)."""
    from levenshtein_spark.operators.metablocking import weight_edge_prune

    pruned = weight_edge_prune(_docs_weighted_pairs(spark, sf).transform(scoped_persist))
    return pruned.select(
        "id_a", "id_b", F.col("n_keys").cast("long").alias("n_keys")
    )


def q_block_purge_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Block-purging census per key family (len0 / len1 / mh): total vs
    kept pairwise comparisons if blocks larger than the threshold were
    dropped — the scorecard that picks the purge threshold BEFORE any pair
    join runs."""
    from levenshtein_spark.driver_queries.linkage import docs_as_code_files
    from levenshtein_spark.operators.blocking import exploded_blocks
    from levenshtein_spark.operators.metablocking import purge_stats
    from levenshtein_spark.operators.normalize import normalize

    n = normalize(docs_as_code_files(spark, sf), prefix_len=64)
    blocks = exploded_blocks(n, len_band=32)
    s = purge_stats(blocks, max_block_size=_PURGE_MAX)
    return s.select(
        "family",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.col("max_block_size").cast("long").alias("max_block_size"),
        F.col("comparisons_total").cast("long").alias("comparisons_total"),
        F.col("n_blocks_purged").cast("long").alias("n_blocks_purged"),
        F.col("comparisons_kept").cast("long").alias("comparisons_kept"),
    )


_PURGE_MAX = 24
_CANOPY_TIGHT = 2
_CANOPY_LOOSE = 1


def q_canopy_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic canopy pre-clustering over the documents blocking
    graph (operators/canopy.py): cheap metric = shared-block-key count,
    tight >= 2 keys, loose >= 1; centers by id-dominance; loose
    multi-assignment + self-canopy coverage."""
    from levenshtein_spark.driver_queries.linkage import docs_as_code_files
    from levenshtein_spark.operators.canopy import canopy_assign
    from levenshtein_spark.operators.normalize import normalize

    n = normalize(docs_as_code_files(spark, sf), prefix_len=64)
    ids = n.select("id")
    weighted = _docs_weighted_pairs(spark, sf).transform(scoped_persist)
    return canopy_assign(
        weighted, ids, t_tight=_CANOPY_TIGHT, t_loose=_CANOPY_LOOSE
    )


def q_linkage_cluster_density(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster edge density of the ER output — 2e / (n(n-1)) over the
    match-edge graph. Density ~1 means a clique (every member pair scored
    as a match: high-confidence entity); low density means the cluster
    exists only through transitive chains — exactly the clusters a
    reviewer should see first. Counts are exact ints; the density is one
    correctly-rounded divide, bit-identical across engines."""
    from levenshtein_spark.driver_queries.linkage import _customer_scored
    from levenshtein_spark.operators.clustering import cluster_labels

    scored = _customer_scored(spark, sf)
    e = edges_of(scored)
    ids = tbl(spark, sf, "customer").select(F.col("c_custkey").alias("id"))
    labels = cluster_labels(ids, e)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    # every closure edge is within-cluster; count per cluster via one join
    ec = (
        e.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    return (
        sizes.where(F.col("n_members") >= 2)
        .join(ec, "cluster_id", "left")
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.coalesce(F.col("n_edges"), F.lit(0)).cast("long").alias("n_edges"),
            F.round(
                F.coalesce(F.col("n_edges"), F.lit(0)).cast("double")
                * 2.0
                / (
                    F.col("n_members").cast("double")
                    * (F.col("n_members").cast("double") - 1.0)
                ),
                6,
            ).alias("density"),
        )
    )


def q_phonetic_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Phonetic blocking census: soundex of the leading p_name word — the
    classic person/name blocking key family, here exercising Spark's JVM
    builtin against a GENERATED DuckDB twin (functions/phonetic.py
    dd_soundex — DuckDB has no soundex; the SQL reimplements the
    NARA/Commons variant from translate + bounded collapse passes, pinned
    bit-for-bit in tests/test_phonetic.py). Pure codegen expression + one
    map-side-combining groupBy — a zero-Python blocking key at any scale."""
    p = tbl(spark, sf, "part")
    w = p.select(F.split(F.col("p_name"), " ").getItem(0).alias("w"))
    return w.groupBy(F.soundex("w").alias("code")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.countDistinct("w").cast("long").alias("n_words"),
        F.min("w").alias("example"),
    )


def q_blocking_recall_by_family(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key-family recall attribution over the customer track's
    pigeonhole blocking: for each of the three segment-pair families
    (s1s2 / s1s3 / s2s3), how many gold edges does it cover, and how many
    does ONLY it cover — the scorecard that says which blocking pass is
    load-bearing and which is redundant (the per-family version of the
    multipass-SNM analysis). Gold = the pipeline's own edge set (lossless
    blocking, so it equals true same-nation dist<=1); flags are plain
    substring equality, the whole query is one scan + one small aggregate
    per family."""
    gold = edges_of(_customer_scored(spark, sf))
    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    fat = (
        gold.join(c.withColumnRenamed("id", "src").withColumnRenamed("name", "name_a"), "src")
        .join(c.withColumnRenamed("id", "dst").withColumnRenamed("name", "name_b"), "dst")
    )
    seg = lambda col, pos: F.substring(col, pos, 3)
    agree = {
        p: (seg("name_a", 9 + 1 + 3 * i) == seg("name_b", 9 + 1 + 3 * i))
        for i, p in enumerate(("s1", "s2", "s3"))
    }
    fa = agree["s1"] & agree["s2"]
    fb = agree["s1"] & agree["s3"]
    fc = agree["s2"] & agree["s3"]
    fams = F.explode(
        F.array(
            F.struct(F.lit("s1s2").alias("family"), fa.alias("covered"), (fa & ~fb & ~fc).alias("only_this")),
            F.struct(F.lit("s1s3").alias("family"), fb.alias("covered"), (fb & ~fa & ~fc).alias("only_this")),
            F.struct(F.lit("s2s3").alias("family"), fc.alias("covered"), (fc & ~fa & ~fb).alias("only_this")),
        )
    )
    return (
        fat.select(fams.alias("f"))
        .groupBy(F.col("f.family").alias("family"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gold"),
            F.sum(F.when(F.col("f.covered"), 1).otherwise(0)).cast("long").alias("n_covered"),
            F.sum(F.when(F.col("f.only_this"), 1).otherwise(0)).cast("long").alias("n_unique"),
        )
        .select(
            "family",
            "n_gold",
            "n_covered",
            "n_unique",
            F.round(F.col("n_covered") / F.col("n_gold"), 6).alias("coverage"),
        )
    )


_PPRL_WORD = 63  # usable bits per signed 64-bit word; the top bit stays
#                  clear so every shift is overflow-free and sign-identical
#                  across engines
_PPRL_WORDS = 2  # filter length = 126 bits (63 bits saturates on the shared
#                  'Customer#' prefix: measured dice ≥ 0.7 for EVERY blocked
#                  candidate; real CLKs are 100–1000 bits for this reason)
_PPRL_K = 2  # hash functions per bigram (classic CLK uses k~2 per field)
_PPRL_DICE = 0.88


def q_pprl_bloom_match(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy-preserving record linkage (Schnell/Bachteler/Reiher 2009):
    each name is encoded as a 126-bit Bloom filter — ``_PPRL_K``
    md5-derived bit positions per character bigram OR-folded into
    ``_PPRL_WORDS`` 63-bit words — and candidate pairs are scored with the
    Dice coefficient ``2·|A∧B| / (|A|+|B|)`` over the encodings alone.
    This is the standard scheme when two parties must link records WITHOUT
    exchanging identifiers: only the bit vectors cross the trust boundary
    (here both halves run in one job; the encode stage is the part each
    party runs privately). Dice is a similarity ESTIMATE — hash collisions
    make it fuzzier than the plaintext comparators, which is the accepted
    privacy/accuracy trade of the scheme.

    Scale shape: encoding is one explode + codegen md5 scan folded by a
    map-side-combining ``bit_or`` groupBy; scoring rides the same salted
    slim-pair universe as the linkage track, with two 8-byte words per side
    as the ONLY pair payload (the narrowest payload any comparator here
    ships). All-integer bit arithmetic plus one correctly-rounded divide,
    so the DuckDB twin hash-checks raw doubles.
    """
    c = tbl(spark, sf, "customer")
    enc = pprl_encode(c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name")))
    # persisted: candidate_pairs reads the blocks lineage three ways (the
    # census and the two join sides) — same reason every sibling call site
    # persists
    blocks = _customer_blocks(spark, sf).transform(scoped_persist)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    fat = attach_pair_payload(pairs, enc, [f"bloom{j}" for j in range(_PPRL_WORDS)])
    inter = _fold_add(
        [
            F.bit_count(F.col(f"bloom{j}_a").bitwiseAND(F.col(f"bloom{j}_b")))
            for j in range(_PPRL_WORDS)
        ]
    )
    ca = _fold_add([F.bit_count(f"bloom{j}_a") for j in range(_PPRL_WORDS)])
    cb = _fold_add([F.bit_count(f"bloom{j}_b") for j in range(_PPRL_WORDS)])
    scored = fat.select(
        "id_a",
        "id_b",
        inter.cast("long").alias("n_common_bits"),
        ca.cast("long").alias("bits_a"),
        cb.cast("long").alias("bits_b"),
    )
    dice = (F.lit(2) * F.col("n_common_bits")) / (F.col("bits_a") + F.col("bits_b"))
    return scored.where(dice >= _PPRL_DICE).select(
        "id_a", "id_b", "n_common_bits", "bits_a", "bits_b",
        F.round(dice, 6).alias("dice"),
    )


def pprl_encode(df: DataFrame) -> DataFrame:
    """(id, bloom0..bloom{W-1}) CLK encodings of a (id, name) DataFrame:
    ``_PPRL_K`` md5-derived bit positions per character bigram, folded into
    ``_PPRL_WORDS`` 63-bit words by a map-side-combining ``bit_or``."""
    # NB: Spark's sequence(1, len-1) DESCENDS for len < 2 (sequence(1, 0) =
    # [1, 0]), emitting junk grams for 1-char names — the length filter
    # removes them and aligns with DuckDB's empty range(1, 1)
    bg = df.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("name") - 1, F.lit(1))),
                lambda i: F.col("name").substr(i, F.lit(2)),
            )
        ).alias("bg"),
    ).where(F.length("bg") == 2)
    m = _PPRL_WORD * _PPRL_WORDS
    bit = lambda h: (  # noqa: E731
        f"CAST(CAST(conv(substring(md5(concat('{h}|', bg)), 1, 15), 16, 10)"
        f" AS BIGINT) % {m} AS INT)"
    )
    words = bg.select(
        "id",
        *[
            F.expr(
                f"CASE WHEN {bit(h)} DIV {_PPRL_WORD} = {j} THEN "
                f"shiftleft(CAST(1 AS BIGINT), {bit(h)} % {_PPRL_WORD}) "
                f"ELSE CAST(0 AS BIGINT) END"
            ).alias(f"w{h}_{j}")
            for h in range(_PPRL_K)
            for j in range(_PPRL_WORDS)
        ],
    )
    enc = words.groupBy("id").agg(
        *[
            F.bit_or(f"w{h}_{j}").alias(f"b{h}_{j}")
            for h in range(_PPRL_K)
            for j in range(_PPRL_WORDS)
        ]
    )
    return enc.select(
        "id",
        *[
            _fold_or([F.col(f"b{h}_{j}") for h in range(_PPRL_K)]).alias(f"bloom{j}")
            for j in range(_PPRL_WORDS)
        ],
    )


def _fold_or(cols):
    """Bitwise-OR fold over long columns (Column.__or__ is boolean OR)."""
    out = cols[0]
    for c in cols[1:]:
        out = out.bitwiseOR(c)
    return out


def _fold_add(cols):
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def q_linkage_cluster_repair(spark: SparkSession, sf: str) -> DataFrame:
    """Repaired entity labels: transitive closure AFTER bridge pruning
    (``operators/repair.py``) — edges that close no triangle while both
    endpoints are independently matched elsewhere are the single-edge
    merges closure cannot be trusted on, so they are dropped before the
    components run. Complements ``linkage_cluster_density`` (which finds
    the low-density clusters worth repairing) and ``linkage_clusters``
    (the recall-maximal unrepaired labels).
    """
    from levenshtein_spark.operators.repair import prune_bridges

    e = edges_of(_customer_scored(spark, sf))
    kept = prune_bridges(e)
    ids = tbl(spark, sf, "customer").select(F.col("c_custkey").alias("id"))
    return cluster_labels(ids, kept).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


_PROG_BUDGET = 2000


def q_progressive_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Progressive ER comparison schedule (pay-as-you-go resolution, Whang
    et al. ICDE 2013 / Papenbrock et al. TKDE 2015): order the blocked
    candidate universe by CHEAP evidence — the CBS weight ``n_keys``
    (shared pigeonhole keys, 1–3) the blocking graph already carries —
    before ANY expensive comparison runs, emit the first ``_PROG_BUDGET``
    comparisons in schedule order, and attach the running gold recall so
    the emitted prefix doubles as the recall@budget curve. Tie-break
    (id_a, id_b) makes the schedule a deterministic total order.

    Scale shape: the total order is realized with ONE range exchange +
    per-partition sort + broadcast offset table (``global_prefix_sum``
    with two value streams — running comparison count and running gold
    hits share the shuffle); never a single-partition window. Gold is the
    pipeline's own edge set (the pigeonhole is lossless for dist≤1, proven
    by `linkage_f1`/`blocking_recall_by_family` brute-force twins), and
    the recall denominator is a 1-row broadcast aggregate.
    """
    blocks = _customer_blocks(spark, sf).transform(scoped_persist)
    cand = candidate_pairs(blocks, hot_threshold=500).select(
        "id_a", "id_b", F.col("n_keys").cast("long").alias("w")
    )
    gold = edges_of(_customer_scored(spark, sf)).select(
        F.col("src").alias("id_a"),
        F.col("dst").alias("id_b"),
        F.lit(1).cast("long").alias("hit"),
    )
    lab = (
        cand.join(gold, ["id_a", "id_b"], "left")
        .withColumn("hit", F.coalesce("hit", F.lit(0)).cast("long"))
        .withColumn("neg_w", -F.col("w"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    ranked = global_prefix_sum(
        lab,
        ["neg_w", "id_a", "id_b"],
        ["one", "hit"],
        out_col=["n_compared", "cum_hits"],
    )
    total = F.broadcast(gold.agg(F.count(F.lit(1)).cast("long").alias("gold_total")))
    return (
        ranked.where(F.col("n_compared") <= _PROG_BUDGET)
        .crossJoin(total)
        .select(
            (F.col("n_compared") - 1).alias("pos"),
            "id_a",
            "id_b",
            "w",
            "hit",
            "cum_hits",
            F.round(F.col("cum_hits") / F.col("gold_total"), 6).alias("recall"),
        )
    )


QUERIES = {
    "snm_pairs": q_snm_pairs,
    "blocking_metrics_snm": q_blocking_metrics_snm,
    "blocking_metrics_snm_multipass": q_blocking_metrics_snm_multipass,
    "fs_match_weights": q_fs_match_weights,
    "top_k_neighbors": q_top_k_neighbors,
    "linkage_f1": q_linkage_f1,
    "linkage_cluster_f1_snm": q_linkage_cluster_f1_snm,
    "linkage_bcubed": q_linkage_bcubed,
    "jw_match_scores": q_jw_match_scores,
    "metablocking_wnp": q_metablocking_wnp,
    "metablocking_wep": q_metablocking_wep,
    "block_purge_stats": q_block_purge_stats,
    "canopy_assign": q_canopy_assign,
    "linkage_cluster_density": q_linkage_cluster_density,
    "phonetic_blocks": q_phonetic_blocks,
    "blocking_recall_by_family": q_blocking_recall_by_family,
    "progressive_pairs": q_progressive_pairs,
    "pprl_bloom_match": q_pprl_bloom_match,
    "linkage_cluster_repair": q_linkage_cluster_repair,
}


# -- DuckDB twins -------------------------------------------------------------
_SNM_RANKED = """
SELECT c_custkey AS id, row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS pos
FROM customer
"""

_SNM_PAIRS = f"""
SELECT l.id AS id_a, r.id AS id_b, CAST(r.pos - l.pos AS BIGINT) AS gap
FROM ({_SNM_RANKED}) l JOIN ({_SNM_RANKED}) r
  ON r.pos - l.pos BETWEEN 1 AND {_SNM_WINDOW - 1}
"""


def _fs_sql() -> str:
    w = _weights()
    # the same double constants the Spark plan carries, repr-injected so the
    # summed doubles are bit-identical across engines
    name_t = f"CASE WHEN name_agree THEN {w['name_a']!r} ELSE {w['name_d']!r} END"
    nation_t = f"CASE WHEN nation_agree THEN {w['nation_a']!r} ELSE {w['nation_d']!r} END"
    seg_t = f"CASE WHEN seg_agree THEN {w['seg_a']!r} ELSE {w['seg_d']!r} END"
    weight = f"(({name_t}) + ({nation_t})) + ({seg_t})"
    return f"""
WITH segs AS (
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         substr(c_name, 10, 3) AS s1, substr(c_name, 13, 3) AS s2,
         substr(c_name, 16, 3) AS s3
  FROM customer
),
cand AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         a.c_name AS name_a, b.c_name AS name_b,
         a.c_nationkey AS nation_a, b.c_nationkey AS nation_b,
         a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b
  FROM segs a JOIN segs b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
   AND ((a.s1 = b.s1 AND a.s2 = b.s2) OR (a.s1 = b.s1 AND a.s3 = b.s3)
        OR (a.s2 = b.s2 AND a.s3 = b.s3))
),
agreed AS (
  SELECT id_a, id_b,
         (levenshtein(name_a, name_b) <= 1) AS name_agree,
         (nation_a = nation_b) AS nation_agree,
         (seg_a = seg_b) AS seg_agree
  FROM cand
)
SELECT id_a, id_b, name_agree, nation_agree, seg_agree,
       round({weight}, 6) AS weight,
       CASE WHEN {weight} >= {_FS_UPPER!r} THEN 'match'
            WHEN {weight} < {_FS_LOWER!r} THEN 'non_match'
            ELSE 'possible' END AS match_class
FROM agreed
"""


_SNM_RANKED_REV = """
SELECT c_custkey AS id, row_number() OVER (ORDER BY reverse(c_name), c_custkey) - 1 AS pos
FROM customer
"""

_SNM_PAIRS_REV = f"""
SELECT l.id AS id_a, r.id AS id_b, CAST(r.pos - l.pos AS BIGINT) AS gap
FROM ({_SNM_RANKED_REV}) l JOIN ({_SNM_RANKED_REV}) r
  ON r.pos - l.pos BETWEEN 1 AND {_SNM_WINDOW - 1}
"""


def _scorecard_sql(cand_sql: str) -> str:
    return f"""
WITH cand AS ({cand_sql}),
gold AS (
  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM ({_CUST_EDGES})
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM customer),
covered AS (
  SELECT count(*) AS n FROM cand c JOIN gold g ON c.src = g.src AND c.dst = g.dst
),
m AS (
  SELECT CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
         CAST((SELECT count(*) FROM gold) AS BIGINT) AS n_gold,
         CAST((SELECT n FROM covered) AS BIGINT) AS n_covered
)
SELECT n.n_records, m.n_candidates, m.n_gold, m.n_covered,
       round(1.0 - m.n_candidates / (CAST(n.n_records AS DOUBLE) * (n.n_records - 1) / 2), 6)
         AS reduction_ratio,
       round(CAST(m.n_covered AS DOUBLE) / m.n_gold, 6) AS pairs_completeness,
       round(CAST(m.n_covered AS DOUBLE) / m.n_candidates, 6) AS pairs_quality
FROM n, m
"""


# capped at {_NBR_CAP}: kept rows have true levenshtein <= cap, so the
# reference bounded convention (exceeded -> k_eff+1) never shows in the output
_TOP_K_NEIGHBORS = f"""
WITH scored AS (
  SELECT id_a, id_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS d
  FROM ({_CUST_PAIRS}) p
  WHERE levenshtein(name_a, name_b) <= {_NBR_CAP}
),
sym AS (
  SELECT id_a AS id, id_b AS nbr, d FROM scored
  UNION ALL
  SELECT id_b AS id, id_a AS nbr, d FROM scored
),
ranked AS (
  SELECT id, nbr, d, row_number() OVER (PARTITION BY id ORDER BY d, nbr) AS rank
  FROM sym
)
SELECT CAST(id AS BIGINT) AS id, CAST(nbr AS BIGINT) AS nbr, d,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {_NBR_TOP}
"""

# brute-force gold: the quadratic scan lives ONLY here, in the oracle —
# per-nation cross product + true levenshtein, no blocking at all
_GOLD_EDGES_SQL = """
SELECT a.c_custkey AS src, b.c_custkey AS dst
FROM customer a JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
WHERE a.c_name = b.c_name OR levenshtein(a.c_name, b.c_name) <= 1
"""

_PRF_SELECT = """
SELECT n_pred, n_gold, tp,
       n_pred - tp AS fp,
       n_gold - tp AS fn,
       round(CAST(tp AS DOUBLE) / n_pred, 6) AS "precision",
       round(CAST(tp AS DOUBLE) / n_gold, 6) AS recall,
       round(CAST(2 * tp AS DOUBLE) / (n_pred + n_gold), 6) AS f1
FROM m
"""

_LINKAGE_F1_SQL = f"""
WITH pred AS (
  SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst FROM ({_CUST_EDGES})
),
gold AS ({_GOLD_EDGES_SQL}),
j AS (
  SELECT (p.src IS NOT NULL) AS is_pred, (g.src IS NOT NULL) AS is_gold
  FROM pred p FULL OUTER JOIN gold g ON p.src = g.src AND p.dst = g.dst
),
m AS (
  SELECT CAST(sum(CASE WHEN is_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
         CAST(sum(CASE WHEN is_gold THEN 1 ELSE 0 END) AS BIGINT) AS n_gold,
         CAST(sum(CASE WHEN is_pred AND is_gold THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM j
)
{_PRF_SELECT}
"""

# shared SNM-predictor edge CTEs — the ONE SQL definition of the edge rule
# the _snm_pred_edges Spark builder implements; every oracle that needs the
# predictor graph (cluster-level F1, B-cubed, and the er_clustering module's
# graph-clustering twins) composes this fragment instead of restating it.
_PRED_EDGES_CTES = f"""
snm_cand AS (
  SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b FROM ({_SNM_PAIRS})
),
pred_edges AS (
  SELECT c.id_a AS src, c.id_b AS dst
  FROM snm_cand c
  JOIN customer x ON x.c_custkey = c.id_a
  JOIN customer y ON y.c_custkey = c.id_b
  WHERE x.c_nationkey = y.c_nationkey
    AND (x.c_name = y.c_name OR levenshtein(x.c_name, y.c_name) <= 1)
)"""

# shared WITH RECURSIVE prefix: SNM edges -> closure labels, brute gold ->
# closure labels (used by the cluster-level F1 AND the B-cubed twins)
_LABELS_CTES = f"""
{_PRED_EDGES_CTES},
gold_edges AS ({_GOLD_EDGES_SQL}),
pred_und AS (
  SELECT src AS a, dst AS b FROM pred_edges UNION SELECT dst, src FROM pred_edges
),
pred_reach(root, node) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION
  SELECT r.root, u.b FROM pred_reach r JOIN pred_und u ON u.a = r.node
),
pred_labels AS (SELECT root AS id, min(node) AS cid FROM pred_reach GROUP BY root),
gold_und AS (
  SELECT src AS a, dst AS b FROM gold_edges UNION SELECT dst, src FROM gold_edges
),
gold_reach(root, node) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION
  SELECT r.root, u.b FROM gold_reach r JOIN gold_und u ON u.a = r.node
),
gold_labels AS (SELECT root AS id, min(node) AS cid FROM gold_reach GROUP BY root)
"""

# one flat WITH RECURSIVE: SNM edges -> closure, brute gold -> closure,
# co-membership pairs of each, then the same PRF arithmetic
_CLUSTER_F1_SNM_SQL = f"""
WITH RECURSIVE
{_LABELS_CTES},
pred_pairs AS (
  SELECT a.id AS src, b.id AS dst FROM pred_labels a
  JOIN pred_labels b ON a.cid = b.cid AND a.id < b.id
),
gold_pairs AS (
  SELECT a.id AS src, b.id AS dst FROM gold_labels a
  JOIN gold_labels b ON a.cid = b.cid AND a.id < b.id
),
j AS (
  SELECT (p.src IS NOT NULL) AS is_pred, (g.src IS NOT NULL) AS is_gold
  FROM pred_pairs p FULL OUTER JOIN gold_pairs g ON p.src = g.src AND p.dst = g.dst
),
m AS (
  SELECT CAST(sum(CASE WHEN is_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
         CAST(sum(CASE WHEN is_gold THEN 1 ELSE 0 END) AS BIGINT) AS n_gold,
         CAST(sum(CASE WHEN is_pred AND is_gold THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM j
)
{_PRF_SELECT}
"""

# (pred, gold) contingency cells with the same integer quantization as the
# Spark side: one correctly-rounded double op per cell, order-free BIGINT sums
_BCUBED_SQL = f"""
WITH RECURSIVE
{_LABELS_CTES},
t AS (
  SELECT p.id, p.cid AS pc, g.cid AS gc
  FROM pred_labels p JOIN gold_labels g USING (id)
),
cells AS (SELECT pc, gc, CAST(count(*) AS BIGINT) AS n_pg FROM t GROUP BY pc, gc),
psz AS (SELECT pc, CAST(count(*) AS BIGINT) AS np FROM t GROUP BY pc),
gsz AS (SELECT gc, CAST(count(*) AS BIGINT) AS ng FROM t GROUP BY gc),
q AS (
  SELECT n_pg,
         CAST(round(CAST(n_pg * n_pg AS DOUBLE) * {float(_BC_Q)!r} / np) AS BIGINT) AS qp,
         CAST(round(CAST(n_pg * n_pg AS DOUBLE) * {float(_BC_Q)!r} / ng) AS BIGINT) AS qr
  FROM cells JOIN psz USING (pc) JOIN gsz USING (gc)
),
m AS (
  SELECT CAST(sum(qp) AS BIGINT) AS sp, CAST(sum(qr) AS BIGINT) AS sr,
         CAST(sum(n_pg) AS BIGINT) AS n
  FROM q
)
SELECT n AS n_records,
       round(CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * {float(_BC_Q)!r}), 6) AS bcubed_precision,
       round(CAST(sr AS DOUBLE) / (CAST(n AS DOUBLE) * {float(_BC_Q)!r}), 6) AS bcubed_recall,
       round(2.0 * CAST(sp AS DOUBLE) * CAST(sr AS DOUBLE)
             / (CAST(sp + sr AS DOUBLE) * (CAST(n AS DOUBLE) * {float(_BC_Q)!r})), 6) AS bcubed_f1
FROM m
"""

ORACLES = {
    "snm_pairs": _SNM_PAIRS,
    "blocking_metrics_snm": _scorecard_sql(
        f"SELECT least(id_a, id_b) AS src, greatest(id_a, id_b) AS dst FROM ({_SNM_PAIRS})"
    ),
    "blocking_metrics_snm_multipass": _scorecard_sql(
        f"""SELECT DISTINCT least(id_a, id_b) AS src, greatest(id_a, id_b) AS dst
FROM (SELECT id_a, id_b FROM ({_SNM_PAIRS}) UNION ALL SELECT id_a, id_b FROM ({_SNM_PAIRS_REV})) u"""
    ),
    "fs_match_weights": _fs_sql(),
    "top_k_neighbors": _TOP_K_NEIGHBORS,
    "linkage_f1": _LINKAGE_F1_SQL,
    "linkage_cluster_f1_snm": _CLUSTER_F1_SNM_SQL,
    "linkage_bcubed": _BCUBED_SQL,
    # same candidate universe as the linkage track; the kernel is bit-pinned
    # to DuckDB's jaro_winkler_similarity, so raw doubles hash-match
    "jw_match_scores": f"""
SELECT id_a, id_b, jaro_winkler_similarity(name_a, name_b) AS jw
FROM ({_CUST_PAIRS}) p
WHERE jaro_winkler_similarity(name_a, name_b) >= {_JW_THRESHOLD!r}
""",
}


def _metablocking_sqls() -> dict[str, str]:
    """DuckDB twins for the meta-blocking queries. The weighted blocking
    graph reuses the linkage track's exact block-key SQL; every pruning
    comparison is integer cross-multiplication, so the rows are
    bit-identical across engines with no float anywhere."""
    from levenshtein_spark.driver_queries.linkage import _docs_blocks_sql

    weighted = f"""
WITH blocks AS ({_docs_blocks_sql()}),
w AS (
  SELECT l.id AS id_a, r.id AS id_b, CAST(count(*) AS BIGINT) AS n_keys
  FROM blocks l JOIN blocks r ON l.block_key = r.block_key AND l.id < r.id
  GROUP BY l.id, r.id
)"""
    wnp = f"""{weighted},
sym AS (
  SELECT id_a AS id, n_keys FROM w
  UNION ALL
  SELECT id_b AS id, n_keys FROM w
),
stats AS (
  SELECT id, sum(n_keys) AS w_sum, count(*) AS degree FROM sym GROUP BY id
)
SELECT w.id_a, w.id_b, w.n_keys
FROM w
JOIN stats a ON a.id = w.id_a
JOIN stats b ON b.id = w.id_b
WHERE w.n_keys * a.degree >= a.w_sum OR w.n_keys * b.degree >= b.w_sum
"""
    wep = f"""{weighted},
t AS (SELECT sum(n_keys) AS w_total, count(*) AS n_edges FROM w)
SELECT id_a, id_b, n_keys FROM w, t WHERE n_keys * n_edges >= w_total
"""
    purge = f"""
WITH blocks AS ({_docs_blocks_sql()}),
sizes AS (SELECT block_key, count(*) AS sz FROM blocks GROUP BY block_key),
fam AS (
  SELECT split_part(block_key, '|', 1) AS family, sz, sz * (sz - 1) // 2 AS cmps
  FROM sizes
)
SELECT family,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(max(sz) AS BIGINT) AS max_block_size,
       CAST(sum(cmps) AS BIGINT) AS comparisons_total,
       CAST(sum(CASE WHEN sz > {_PURGE_MAX} THEN 1 ELSE 0 END) AS BIGINT) AS n_blocks_purged,
       CAST(sum(CASE WHEN sz > {_PURGE_MAX} THEN 0 ELSE cmps END) AS BIGINT) AS comparisons_kept
FROM fam GROUP BY family
"""
    canopy = f"""{weighted},
norm_ids AS (SELECT id FROM ({{docs_norm}}) n),
dominated AS (SELECT DISTINCT id_b AS id FROM w WHERE n_keys >= {_CANOPY_TIGHT}),
centers AS (
  SELECT i.id AS center FROM norm_ids i
  LEFT JOIN dominated d ON d.id = i.id WHERE d.id IS NULL
),
sym AS (
  SELECT id_a AS id, id_b AS nbr FROM w WHERE n_keys >= {_CANOPY_LOOSE}
  UNION ALL
  SELECT id_b AS id, id_a AS nbr FROM w WHERE n_keys >= {_CANOPY_LOOSE}
),
assigned AS (
  SELECT s.id, c.center FROM sym s JOIN centers c ON c.center = s.nbr
  UNION
  SELECT center AS id, center FROM centers
),
orphans AS (
  SELECT i.id, i.id AS center FROM norm_ids i
  LEFT JOIN (SELECT DISTINCT id FROM assigned) a ON a.id = i.id
  WHERE a.id IS NULL
)
SELECT id, center AS canopy_id FROM assigned
UNION
SELECT id, center AS canopy_id FROM orphans
"""
    return {
        "metablocking_wnp": wnp,
        "metablocking_wep": wep,
        "block_purge_stats": purge,
        "canopy_assign": canopy,
    }


def _canopy_sql() -> str:
    from levenshtein_spark.driver_queries.linkage import _DOCS_NORM

    return _metablocking_sqls()["canopy_assign"].replace("{docs_norm}", _DOCS_NORM)


ORACLES.update(_metablocking_sqls())
ORACLES["canopy_assign"] = _canopy_sql()

# gold via brute force (no blocking) — the oracle must not presuppose the
# pigeonhole's losslessness, it PROVES it: all names are fixed-length 18, so
# lev<=1 is exactly one substitution and the Spark side's blocked edge set
# must coincide
ORACLES["blocking_recall_by_family"] = """
WITH gold AS (
  SELECT a.c_name AS na, b.c_name AS nb
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
   AND levenshtein(a.c_name, b.c_name) <= 1
),
f AS (
  SELECT (substr(na, 10, 3) = substr(nb, 10, 3) AND substr(na, 13, 3) = substr(nb, 13, 3)) AS fa,
         (substr(na, 10, 3) = substr(nb, 10, 3) AND substr(na, 16, 3) = substr(nb, 16, 3)) AS fb,
         (substr(na, 13, 3) = substr(nb, 13, 3) AND substr(na, 16, 3) = substr(nb, 16, 3)) AS fc
  FROM gold
),
e AS (
  SELECT 's1s2' AS family, fa AS covered, (fa AND NOT fb AND NOT fc) AS only_this FROM f
  UNION ALL
  SELECT 's1s3', fb, (fb AND NOT fa AND NOT fc) FROM f
  UNION ALL
  SELECT 's2s3', fc, (fc AND NOT fa AND NOT fb) FROM f
)
SELECT family,
       CAST(count(*) AS BIGINT) AS n_gold,
       CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       CAST(sum(CASE WHEN only_this THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       round(CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS coverage
FROM e GROUP BY family
"""

# progressive schedule: same candidate universe (w = number of agreeing
# segment-pair families = CBS n_keys), gold = the established _CUST_EDGES
# twin, ranked by one window under the identical (w DESC, id_a, id_b) order
ORACLES["progressive_pairs"] = f"""
WITH seg AS (
  SELECT c_custkey, c_name, c_nationkey,
         substr(c_name, 10, 3) AS s1, substr(c_name, 13, 3) AS s2,
         substr(c_name, 16, 3) AS s3
  FROM customer
),
cand AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         CAST((CASE WHEN a.s1 = b.s1 AND a.s2 = b.s2 THEN 1 ELSE 0 END)
            + (CASE WHEN a.s1 = b.s1 AND a.s3 = b.s3 THEN 1 ELSE 0 END)
            + (CASE WHEN a.s2 = b.s2 AND a.s3 = b.s3 THEN 1 ELSE 0 END)
              AS BIGINT) AS w
  FROM seg a JOIN seg b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
   AND ((a.s1 = b.s1 AND a.s2 = b.s2) OR (a.s1 = b.s1 AND a.s3 = b.s3)
        OR (a.s2 = b.s2 AND a.s3 = b.s3))
),
gold AS (SELECT src AS id_a, dst AS id_b FROM ({_CUST_EDGES}) e),
lab AS (
  SELECT c.id_a, c.id_b, c.w,
         CAST(CASE WHEN g.id_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS hit
  FROM cand c LEFT JOIN gold g ON c.id_a = g.id_a AND c.id_b = g.id_b
),
r AS (
  SELECT id_a, id_b, w, hit,
         CAST(row_number() OVER (ORDER BY w DESC, id_a, id_b) - 1 AS BIGINT) AS pos,
         CAST(sum(hit) OVER (ORDER BY w DESC, id_a, id_b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hits
  FROM lab
),
t AS (SELECT CAST(count(*) AS BIGINT) AS gold_total FROM gold)
SELECT pos, id_a, id_b, w, hit, cum_hits,
       round(CAST(cum_hits AS DOUBLE) / gold_total, 6) AS recall
FROM r, t WHERE pos < {_PROG_BUDGET}
"""

# PPRL: same bigram → md5 → bit-position math (63-bit words keep every
# shift overflow-free and sign-identical), Dice as exact int bit counts
# plus one correctly-rounded divide
def _pprl_sql() -> str:
    m = _PPRL_WORD * _PPRL_WORDS

    def bit(h: int) -> str:
        return (
            f"CAST((('0x' || substr(md5('{h}|' || bg), 1, 15))::BIGINT % {m}) AS INT)"
        )

    blooms = ",\n         ".join(
        " | ".join(
            f"bit_or(CASE WHEN {bit(h)} // {_PPRL_WORD} = {j} THEN "
            f"CAST(1 AS BIGINT) << ({bit(h)} % {_PPRL_WORD}) "
            f"ELSE CAST(0 AS BIGINT) END)"
            for h in range(_PPRL_K)
        )
        + f" AS bloom{j}"
        for j in range(_PPRL_WORDS)
    )
    inter = " + ".join(
        f"bit_count(a.bloom{j} & b.bloom{j})" for j in range(_PPRL_WORDS)
    )
    ca = " + ".join(f"bit_count(a.bloom{j})" for j in range(_PPRL_WORDS))
    cb = " + ".join(f"bit_count(b.bloom{j})" for j in range(_PPRL_WORDS))
    return f"""
WITH bg AS (
  SELECT c_custkey AS id,
         unnest(list_transform(range(1, length(c_name)),
                               i -> substr(c_name, i, 2))) AS bg
  FROM customer
),
enc AS (
  SELECT id,
         {blooms}
  FROM bg GROUP BY id
),
pairs AS (SELECT id_a, id_b FROM ({_CUST_PAIRS}) p),
sc AS (
  SELECT p.id_a, p.id_b,
         CAST({inter} AS BIGINT) AS n_common_bits,
         CAST({ca} AS BIGINT) AS bits_a,
         CAST({cb} AS BIGINT) AS bits_b
  FROM pairs p JOIN enc a ON p.id_a = a.id JOIN enc b ON p.id_b = b.id
)
SELECT id_a, id_b, n_common_bits, bits_a, bits_b,
       round(CAST(2 * n_common_bits AS DOUBLE) / (bits_a + bits_b), 6) AS dice
FROM sc
WHERE CAST(2 * n_common_bits AS DOUBLE) / (bits_a + bits_b) >= {_PPRL_DICE}
"""


ORACLES["pprl_bloom_match"] = _pprl_sql()

# bridge pruning as exact integer graph arithmetic, then the same
# recursive-closure template as linkage_clusters over the kept edges
ORACLES["linkage_cluster_repair"] = f"""
WITH RECURSIVE edges AS ({_CUST_EDGES}),
sym AS (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY a),
supp AS (
  SELECT e.src, e.dst, CAST(count(*) AS BIGINT) AS s
  FROM edges e JOIN sym x ON x.a = e.src JOIN sym y ON y.a = e.dst AND y.b = x.b
  GROUP BY e.src, e.dst
),
kept AS (
  SELECT e.src, e.dst
  FROM edges e
  JOIN deg da ON da.id = e.src
  JOIN deg db ON db.id = e.dst
  LEFT JOIN supp s ON s.src = e.src AND s.dst = e.dst
  WHERE coalesce(s.s, 0) >= 1 OR da.deg = 1 OR db.deg = 1
),
und AS (SELECT src AS a, dst AS b FROM kept UNION SELECT dst, src FROM kept),
reach(root, node) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION
  SELECT r.root, u.b FROM reach r JOIN und u ON u.a = r.node
)
SELECT CAST(root AS BIGINT) AS id, CAST(min(node) AS BIGINT) AS cluster_id
FROM reach GROUP BY root
"""

from levenshtein_spark.functions.phonetic import dd_soundex

ORACLES["phonetic_blocks"] = f"""
WITH w AS (SELECT split_part(p_name, ' ', 1) AS w FROM part)
SELECT {dd_soundex('w')} AS code,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT w) AS BIGINT) AS n_words,
       min(w) AS example
FROM w GROUP BY 1
"""

from levenshtein_spark.driver_queries.linkage import _CUST_CLUSTERS

ORACLES["linkage_cluster_density"] = f"""
WITH labels AS ({_CUST_CLUSTERS}),
edges AS ({_CUST_EDGES}),
sizes AS (SELECT cluster_id, count(*) AS n_members FROM labels GROUP BY cluster_id),
ec AS (
  SELECT l.cluster_id, count(*) AS n_edges
  FROM edges e JOIN labels l ON l.id = e.src
  GROUP BY l.cluster_id
)
SELECT CAST(s.cluster_id AS BIGINT) AS cluster_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       CAST(coalesce(ec.n_edges, 0) AS BIGINT) AS n_edges,
       round(CAST(coalesce(ec.n_edges, 0) AS DOUBLE) * 2.0
             / (CAST(s.n_members AS DOUBLE) * (CAST(s.n_members AS DOUBLE) - 1.0)),
             6) AS density
FROM sizes s LEFT JOIN ec ON ec.cluster_id = s.cluster_id
WHERE s.n_members >= 2
"""


def _fs_em_sql(cc_select: str | None = None) -> str:
    """The EM recurrence of ``fs_em_fit`` unrolled into iteration CTEs.

    Every +, *, / appears in exactly the order the Python fit evaluates it
    (explicit parentheses force left-to-right association), so the two
    engines execute the identical IEEE op sequence on the identical pattern
    counts — the generated doubles hash-match with no rounding.

    ``cc_select`` overrides the one-row pattern-count pivot (columns
    ``c0..c7`` as doubles) — tests inject literal counts through it to pin
    the SQL↔Python bit parity independently of the candidate universe."""
    n_fields = len(_FS_EM_FIELDS)
    n_pat = 1 << n_fields
    m0, u0, p0 = _FS_EM_INIT

    pat = f"""
SELECT (CASE WHEN least(levenshtein(p.name_a, p.name_b),
             least(1, greatest(length(p.name_a), length(p.name_b))) + 1) <= 1
        THEN 1 ELSE 0 END)
     + 2 * (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 1 ELSE 0 END)
     + 4 * (CASE WHEN floor(a.c_acctbal / 1000.0) = floor(b.c_acctbal / 1000.0)
        THEN 1 ELSE 0 END) AS g,
       count(*) AS cnt
FROM ({_CUST_PAIRS}) p
JOIN customer a ON a.c_custkey = p.id_a
JOIN customer b ON b.c_custkey = p.id_b
GROUP BY 1
"""
    # pivot to one row: each pattern occurs at most once, so the sum is exact
    cc = cc_select or (
        "SELECT " + ", ".join(
            f"coalesce(sum(CASE WHEN g = {g} THEN CAST(cnt AS DOUBLE) END), 0.0) AS c{g}"
            for g in range(n_pat)
        ) + " FROM pat"
    )

    carry_c = ", ".join(f"c{g}" for g in range(n_pat))
    n_expr = None
    for g in range(n_pat):  # N accumulated in g order, like the Python loop
        n_expr = f"c{g}" if n_expr is None else f"({n_expr} + c{g})"
    ctes = [
        f"it0 AS (SELECT {carry_c}, {n_expr} AS n, "
        + ", ".join(
            f"CAST({m0!r} AS DOUBLE) AS m{f}, CAST({u0!r} AS DOUBLE) AS u{f}"
            for f in range(n_fields)
        )
        + f", CAST({p0!r} AS DOUBLE) AS p FROM cc)"
    ]
    for t in range(1, _FS_EM_ITERS + 1):
        r_exprs = []
        for g in range(n_pat):
            a = "p"
            b = "(1.0 - p)"
            for f in range(n_fields):
                if (g >> f) & 1:
                    a = f"({a} * m{f})"
                    b = f"({b} * u{f})"
                else:
                    a = f"({a} * (1.0 - m{f}))"
                    b = f"({b} * (1.0 - u{f}))"
            r_exprs.append(f"({a} / ({a} + {b})) AS r{g}")
        m_mass = None
        for g in range(n_pat):
            term = f"(c{g} * r{g})"
            m_mass = term if m_mass is None else f"({m_mass} + {term})"
        updates = []
        for f in range(n_fields):
            sm = su = None
            for g in range(n_pat):
                if (g >> f) & 1:
                    tm = f"(c{g} * r{g})"
                    tu = f"(c{g} * (1.0 - r{g}))"
                    sm = tm if sm is None else f"({sm} + {tm})"
                    su = tu if su is None else f"({su} + {tu})"
            updates.append(
                f"({sm} / ({m_mass})) AS m{f}, ({su} / (n - ({m_mass}))) AS u{f}"
            )
        ctes.append(
            f"resp{t} AS (SELECT {carry_c}, n, "
            + ", ".join(f"m{f}, u{f}" for f in range(n_fields))
            + ", p, " + ", ".join(r_exprs) + f" FROM it{t-1})"
        )
        ctes.append(
            f"it{t} AS (SELECT {carry_c}, n, "
            + ", ".join(updates)
            + f", (({m_mass}) / n) AS p FROM resp{t})"
        )
    final = " UNION ALL ".join(
        f"SELECT '{_FS_EM_FIELDS[f]}' AS field, m{f} AS m, u{f} AS u, "
        f"(m{f} / u{f}) AS agree_odds, ((1.0 - m{f}) / (1.0 - u{f})) AS disagree_odds, "
        f"p AS prevalence FROM it{_FS_EM_ITERS}"
        for f in range(n_fields)
    )
    prefix = f"WITH cc AS ({cc}),\n" if cc_select else f"WITH pat AS ({pat}),\ncc AS ({cc}),\n"
    return prefix + ",\n".join(ctes) + f"\nSELECT * FROM ({final}) q"


ORACLES["fs_em_weights"] = _fs_em_sql()
QUERIES["fs_em_weights"] = q_fs_em_weights


# ---------------------------------------------------------------------------
# Deterministic match-rule cascade (waterfall linkage)
# ---------------------------------------------------------------------------
def q_linkage_rule_cascade(spark: SparkSession, sf: str) -> DataFrame:
    """Matchkey waterfall (the ONS/Census deterministic-linkage pattern):
    an ordered cascade of match rules, each pair attributed to the
    STRONGEST rule that fires (min rank — first-match-wins provenance, the
    audit trail a production linkage run must keep).

      1. identity key: identical account balance to the cent (a stand-in
         for an exact SSN/email key — near-unique, rare collisions);
      2. fuzzy rule: same nation + name edit distance <= 1 (the pipeline's
         gold rule, via the lossless pigeonhole universe + Arrow kernel);
      3. demographic key: same (mktsegment, nation, 1000-band of balance) —
         the deliberately coarse last-resort key.

    Every rule is an equi-join on an explicit block key routed through the
    same salted slim-pair operator as the pipeline (rule 2 reuses the
    scored edge stage wholesale); provenance is one map-side-combining
    min aggregation over the union. Nothing is quadratic beyond what each
    rule's key cardinality itself implies — which is the point of the
    cascade: the weak rule exists to be MEASURED (its fan-out shows up in
    the rank-3 row count), not trusted.
    """
    c = tbl(spark, sf, "customer")

    def rule_pairs(block_key, rank: int) -> DataFrame:
        blocks = c.select(block_key.alias("block_key"), F.col("c_custkey").alias("id"))
        return (
            candidate_pairs(blocks, hot_threshold=500)
            .select("id_a", "id_b", F.lit(rank).alias("rnk"))
        )

    cents = F.round(F.col("c_acctbal") * 100).cast("long").cast("string")
    r1 = rule_pairs(F.concat(F.lit("c|"), cents), 1)
    r2 = edges_of(_customer_scored(spark, sf)).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b"), F.lit(2).alias("rnk")
    )
    band = F.floor(F.col("c_acctbal") / 1000).cast("long").cast("string")
    # F.concat (not concat_ws): a NULL component must null the whole key so
    # the row joins nothing, matching the oracle's NULL-propagating equality
    r3 = rule_pairs(
        F.concat(
            F.lit("d|"), F.col("c_mktsegment"), F.lit("|"),
            F.col("c_nationkey").cast("string"), F.lit("|"), band,
        ),
        3,
    )
    return (
        r1.unionByName(r2)
        .unionByName(r3)
        .groupBy("id_a", "id_b")
        .agg(F.min("rnk").cast("long").alias("rule"))
    )


ORACLES["linkage_rule_cascade"] = f"""
WITH r1 AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, 1 AS rnk
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey
   AND CAST(round(a.c_acctbal * 100) AS BIGINT) = CAST(round(b.c_acctbal * 100) AS BIGINT)
),
r2 AS (SELECT src AS id_a, dst AS id_b, 2 AS rnk FROM ({_CUST_EDGES}) e),
r3 AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, 3 AS rnk
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_nationkey = b.c_nationkey
   AND CAST(floor(a.c_acctbal / 1000) AS BIGINT) = CAST(floor(b.c_acctbal / 1000) AS BIGINT)
)
SELECT id_a, id_b, CAST(min(rnk) AS BIGINT) AS rule
FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3) u
GROUP BY id_a, id_b
"""
QUERIES["linkage_rule_cascade"] = q_linkage_rule_cascade


# ---------------------------------------------------------------------------
# Term-frequency-adjusted u probabilities (Splink's tf_adjustment)
# ---------------------------------------------------------------------------
def q_fs_tf_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Term-frequency adjustment table for the segment field — the Splink
    ``tf_adjustment`` mechanic: agreement on a COMMON value is weak evidence,
    on a RARE value strong, so the global u = P(agree | unmatch) is replaced
    per value v by u_tf(v) = freq(v)/N. One row per field value with its
    frequency, the blocked candidate pairs agreeing on it, u_tf, the
    adjusted agreement odds m/u_tf, and the unadjusted m/u baseline.

    Floats are two correctly-rounded ops in fixed order (freq/N, then
    m / u_tf), so the twin hash-checks raw doubles. Scale shape: value
    frequencies and pair-agreement counts are map-side-combining groupBys
    (state = field cardinality); the candidate universe is the same salted
    slim-pair stage every scorer here shares.
    """
    c = tbl(spark, sf, "customer")
    from levenshtein_spark.driver_queries.linkage import _customer_blocks

    n_tot = c.agg(F.count(F.lit(1)).alias("n_tot"))
    freq = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("freq")
    )
    blocks = _customer_blocks(spark, sf)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    seg_rec = c.select(F.col("c_custkey").alias("id"), F.col("c_mktsegment").alias("seg"))
    fat = attach_pair_payload(pairs, seg_rec, ["seg"])
    agree = (
        fat.where(F.col("seg_a") == F.col("seg_b"))
        .groupBy(F.col("seg_a").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_agree_pairs"))
    )
    m, u = _FS_SEGMENT
    u_tf = F.col("freq").cast("double") / F.col("n_tot").cast("double")
    return (
        freq.join(agree, "segment", "left")
        .join(F.broadcast(n_tot))
        .select(
            "segment",
            F.col("freq").cast("long").alias("freq"),
            F.coalesce(F.col("n_agree_pairs"), F.lit(0)).cast("long").alias("n_agree_pairs"),
            u_tf.alias("u_tf"),
            (F.lit(m) / u_tf).alias("tf_odds"),
            F.lit(m / u).alias("base_odds"),
        )
    )


ORACLES["fs_tf_weights"] = f"""
WITH freq AS (SELECT c_mktsegment AS segment, count(*) AS freq FROM customer GROUP BY 1),
tot AS (SELECT count(*) AS n_tot FROM customer),
agree AS (
  SELECT a.c_mktsegment AS segment, count(*) AS n_agree_pairs
  FROM ({_CUST_PAIRS}) p
  JOIN customer a ON a.c_custkey = p.id_a
  JOIN customer b ON b.c_custkey = p.id_b
  WHERE a.c_mktsegment = b.c_mktsegment
  GROUP BY 1
)
SELECT f.segment, CAST(f.freq AS BIGINT) AS freq,
       CAST(coalesce(ag.n_agree_pairs, 0) AS BIGINT) AS n_agree_pairs,
       (CAST(f.freq AS DOUBLE) / CAST(t.n_tot AS DOUBLE)) AS u_tf,
       ({_FS_SEGMENT[0]!r} / (CAST(f.freq AS DOUBLE) / CAST(t.n_tot AS DOUBLE))) AS tf_odds,
       {_FS_SEGMENT[0] / _FS_SEGMENT[1]!r} AS base_odds
FROM freq f LEFT JOIN agree ag USING (segment), tot t
"""
QUERIES["fs_tf_weights"] = q_fs_tf_weights


_ME_Q = 1_000_000  # inner-sim quantization: integer sums => order-free floats


def q_er_monge_elkan(spark: SparkSession, sf: str) -> DataFrame:
    """Monge–Elkan hybrid comparator over the blocked candidate universe:
    ME(A,B) = mean over A's tokens of the best Jaro–Winkler match in B —
    the classic token-level/char-level hybrid (Monge & Elkan 1996; Cohen,
    Ravikumar & Fienberg 2003 rank it among the strongest name comparators)
    that survives token reordering and per-token typos where whole-string
    comparators fail. Asymmetric by definition; this is ME(A→B).

    Exactness discipline: each per-token best sim is quantized to an
    integer (one correctly-rounded multiply+round of the bit-pinned JW
    double), so the per-pair SUM is order-free integer arithmetic and the
    final mean is a single divide — the dedup_tfidf integer-weight
    discipline applied to a float comparator.

    Scale shape: tokens explode off the already-slim candidate stream
    (pair count × |A|·|B| rows, token products are tiny for names); one
    ArrowEvalPython JW batch; two map-side-combining aggregations
    (per-(pair, A-position) max, then per-pair integer sum). No window,
    no per-key product beyond the token grid itself.
    """
    from levenshtein_spark.driver_queries.linkage import _customer_blocks
    from levenshtein_spark.functions.distance import jaro_winkler
    from levenshtein_spark.functions.text import word_tokens
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs

    blocks = _customer_blocks(spark, sf)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    c = tbl(spark, sf, "customer")
    rec = c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    fat = attach_pair_payload(pairs, rec, ["name"])
    fat = fat.where(
        (F.size(word_tokens(F.col("name_a"))) > 0)
        & (F.size(word_tokens(F.col("name_b"))) > 0)
    )
    ta = fat.select(
        "id_a", "id_b", "name_b",
        F.size(word_tokens(F.col("name_a"))).alias("na"),
        F.posexplode(word_tokens(F.col("name_a"))).alias("pa", "tok_a"),
    )
    tb = ta.select(
        "id_a", "id_b", "na", "pa", "tok_a",
        F.explode(word_tokens(F.col("name_b"))).alias("tok_b"),
    )
    sims = tb.select(
        "id_a", "id_b", "na", "pa", jaro_winkler("tok_a", "tok_b").alias("s")
    )
    best = sims.groupBy("id_a", "id_b", "na", "pa").agg(
        F.round(F.max("s") * _ME_Q).cast("long").alias("q")
    )
    return best.groupBy("id_a", "id_b").agg(
        F.round(
            F.sum("q").cast("double")
            / (F.max("na").cast("double") * F.lit(float(_ME_Q))),
            6,
        ).alias("monge_elkan")
    )


QUERIES["er_monge_elkan"] = q_er_monge_elkan

from levenshtein_spark.driver_queries.linkage import _CUST_PAIRS as _ME_PAIRS  # noqa: E402

_ME_TOKS = "list_filter(regexp_split_to_array(lower({c}), '[^a-z0-9]+'), t -> t <> '')"
ORACLES["er_monge_elkan"] = f"""
WITH cand AS ({_ME_PAIRS}),
tk AS (
  SELECT id_a, id_b,
         {_ME_TOKS.format(c="name_a")} AS ta,
         {_ME_TOKS.format(c="name_b")} AS tb
  FROM cand
  WHERE len({_ME_TOKS.format(c="name_a")}) > 0
    AND len({_ME_TOKS.format(c="name_b")}) > 0
),
q AS (
  SELECT id_a, id_b, len(ta) AS na,
         list_transform(ta, a -> CAST(round(
             list_max(list_transform(tb, b -> jaro_winkler_similarity(a, b)))
             * {_ME_Q}) AS BIGINT)) AS qs
  FROM tk
)
SELECT id_a, id_b,
       round(CAST(list_sum(qs) AS DOUBLE) / (CAST(na AS DOUBLE) * {float(_ME_Q)!r}), 6)
         AS monge_elkan
FROM q
"""


# ---------------------------------------------------------------------------
# Smith–Waterman local-alignment comparator
# ---------------------------------------------------------------------------
_SW_SAMPLE_MOD = 29  # deterministic 1-in-29 pair sample (oracle is O(n·m²)/pair)


def q_er_smith_waterman(spark: SparkSession, sf: str) -> DataFrame:
    """Smith–Waterman local-alignment scores (functions/align.py: match +2,
    mismatch −1, gap −1, floor 0, byte semantics) over the blocked customer
    candidate universe — the third comparator of the stack (edit distance /
    Jaro–Winkler / local alignment). Local alignment scores the best shared
    REGION, so it stays high where unshared prefixes/suffixes drown a
    global measure — the comparator of choice for concatenated or embedded
    fields (Monge & Elkan 1996 build on exactly this base).

    Scores are exact integers (bit-trivial cross-engine); ``sw_norm`` =
    ``sw / (2·min(len))`` is one correctly-rounded divide. Candidates are
    thinned by a deterministic portable-hash 1-in-{mod} sample — the DuckDB
    twin replays the same hash, then re-derives every score through the
    recursive-CTE DP (oracles.sw_cte), the same max-plus prefix-scan
    recurrence the NumPy kernel vectorizes.

    Scale shape: the sample is a stateless filter on the slim pair stream;
    scoring is one ArrowEvalPython over two pre-projected name columns —
    identical plan shape to linkage_score.
    """
    from levenshtein_spark.functions.align import SW_MATCH, smith_waterman
    from levenshtein_spark.functions.hashing import hash64

    blocks = _customer_blocks(spark, sf)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    pairs = pairs.where(
        hash64(
            F.concat(
                F.col("id_a").cast("string"), F.lit("_"), F.col("id_b").cast("string")
            )
        )
        % _SW_SAMPLE_MOD
        == 0
    )
    c = tbl(spark, sf, "customer")
    rec = c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    fat = attach_pair_payload(pairs, rec, ["name"])
    scored = fat.select(
        "id_a",
        "id_b",
        F.least(F.octet_length("name_a"), F.octet_length("name_b")).alias("__lmin"),
        smith_waterman("name_a", "name_b").alias("sw"),
    )
    return scored.select(
        "id_a",
        "id_b",
        "sw",
        F.round(
            F.col("sw").cast("double")
            / (F.lit(float(SW_MATCH)) * F.greatest(F.lit(1), F.col("__lmin")).cast("double")),
            6,
        ).alias("sw_norm"),
    )


QUERIES["er_smith_waterman"] = q_er_smith_waterman


def _sw_oracle_sql() -> str:
    from levenshtein_spark.functions.align import SW_MATCH
    from levenshtein_spark.oracles import dd_hash64, sw_cte

    h = dd_hash64("CAST(id_a AS VARCHAR) || '_' || CAST(id_b AS VARCHAR)")
    # pid = row_number over the sampled pairs: collision-free at any key
    # range (an id_a*C+id_b scheme would alias once custkeys reach C)
    return f"""
WITH RECURSIVE
swcand AS (
  SELECT id_a, id_b, name_a, name_b,
         row_number() OVER (ORDER BY id_a, id_b) AS pid
  FROM ({_CUST_PAIRS}) p
  WHERE ({h}) % {_SW_SAMPLE_MOD} = 0
),
{sw_cte("SELECT pid, name_a AS s1, name_b AS s2 FROM swcand")}
SELECT c.id_a, c.id_b, r.sw,
       round(CAST(r.sw AS DOUBLE) /
             ({float(SW_MATCH)!r} * greatest(1, least(strlen(c.name_a), strlen(c.name_b)))), 6)
         AS sw_norm
FROM swcand c JOIN sw_result r USING (pid)
"""


ORACLES["er_smith_waterman"] = _sw_oracle_sql()


# ---------------------------------------------------------------------------
# Soft-TFIDF hybrid comparator (Cohen, Ravikumar & Fienberg 2003)
# ---------------------------------------------------------------------------
# idf quantization: the rational idf is N-NORMALIZED — idf_q =
# round(Q·(N-df+0.5)/((df+0.5)·N)) — so the integer weight is bounded by the
# RATIO (<= ~2Q/3 at df=1) independent of corpus size N. Dividing every
# weight by the constant N leaves the cosine unchanged in real arithmetic
# (it cancels against the norms); only the quantization grid moves. This is
# what keeps the packed argmax key and the per-pair integer sum inside
# int64 at ANY N: wb = tf·idf_q <= ~5·0.67·Q ≈ 3.4e5 < 2^20, and the sum
# term wa·wb·jwq <= (3.4e5)²·1e6 ≈ 1.1e17, × a handful of tokens — two
# orders of magnitude inside int64 (the un-normalized form silently
# overflowed the 2^20 pack field past ~15k documents).
_ST_IDF_Q = 100_000
_ST_JW_Q = 1_000_000     # inner-JW quantization
_ST_THETA_Q = 900_000    # CLOSE(theta): quantized JW >= 0.9
_ST_PACK = 1 << 20       # (jwq, wb) packed argmax key; requires wb < 2^20


def q_er_soft_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Soft-TFIDF over the blocked customer candidate universe — the
    comparator Cohen, Ravikumar & Fienberg (2003) measured as the single
    best name matcher in their survey: TF-IDF cosine where tokens match
    SOFTLY (by Jaro–Winkler >= theta) instead of exactly, so per-token
    typos no longer zero out the rare-token evidence.

    ``score(A,B) = Σ_{w∈A, bestJW(w,B)>=θ} V(w,A)·V(best,B)·JW(w,best)``
    with V the L2-normalized tf·idf weight.

    Exactness discipline (the dedup_tfidf + er_monge_elkan playbook
    composed): idf is the rational ``(N-df+0.5)/(df+0.5)`` quantized to an
    integer; the per-(pair, A-token) best partner is an integer argmax over
    the packed key ``jwq·2^20 + wb`` (deterministic under ties — larger
    partner weight wins); the per-pair sum ``Σ wa·wb_best·jwq`` is
    order-free int64 arithmetic (max term ~9e16, fits comfortably); the
    only floats are two sqrts, one multiply chain, and one divide in fixed
    order. The packed-key bound wb < 2^20 holds AT ANY CORPUS SIZE because
    the idf is N-normalized (see _ST_IDF_Q): idf_q <= ~2Q/3 regardless of
    N, so wb = tf·idf_q stays ~3e5 whether N is 1,500 or 10^9.

    Scale shape: tf/df/norms are map-side-combining aggregates; the token
    grid explodes off the slim pair stream (|pairs| × |A|·|B| rows, tiny
    for names); one ArrowEvalPython JW batch; two aggregations. Same plan
    family as er_monge_elkan with a weighted verify.
    """
    from levenshtein_spark.driver_queries.linkage import _customer_blocks
    from levenshtein_spark.functions.distance import jaro_winkler
    from levenshtein_spark.functions.text import word_tokens
    from levenshtein_spark.operators.pairs import candidate_pairs

    c = tbl(spark, sf, "customer")
    toks = c.select(
        F.col("c_custkey").alias("id"), F.explode(word_tokens(F.col("c_name"))).alias("tok")
    )
    tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = c.count()
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf_q = F.round(
        ((F.lit(n_docs) - F.col("df")).cast("double") + F.lit(0.5))
        * F.lit(float(_ST_IDF_Q))
        / ((F.col("df").cast("double") + F.lit(0.5)) * F.lit(float(n_docs)))
    ).cast("long")
    w = (
        tf.join(dfs, "tok")
        .select("id", "tok", (F.col("tf") * idf_q).alias("w"))
        .transform(scoped_persist)
    )
    norms = w.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    blocks = _customer_blocks(spark, sf)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    at = pairs.join(
        w.select(F.col("id").alias("id_a"), F.col("tok").alias("ta"), F.col("w").alias("wa")),
        "id_a",
    )
    grid = at.join(
        w.select(F.col("id").alias("id_b"), F.col("tok").alias("tb"), F.col("w").alias("wb")),
        "id_b",
    )
    jwq = F.round(jaro_winkler("ta", "tb") * F.lit(float(_ST_JW_Q))).cast("long")
    packed = grid.select(
        "id_a", "id_b", "ta", "wa",
        (jwq * F.lit(_ST_PACK) + F.col("wb")).alias("pk"),
    )
    best = packed.groupBy("id_a", "id_b", "ta", "wa").agg(F.max("pk").alias("pk"))
    term = F.when(
        (F.col("pk") / F.lit(_ST_PACK)).cast("long") >= _ST_THETA_Q,
        F.col("wa") * (F.col("pk") % F.lit(_ST_PACK)) * (F.col("pk") / F.lit(_ST_PACK)).cast("long"),
    ).otherwise(F.lit(0))
    sums = best.groupBy("id_a", "id_b").agg(F.sum(term).alias("s"))
    score = F.round(
        F.col("s").cast("double")
        / (
            F.sqrt(F.col("n2_a").cast("double"))
            * F.sqrt(F.col("n2_b").cast("double"))
            * F.lit(float(_ST_JW_Q))
        ),
        6,
    )
    return attach_pair_payload(sums, norms, ["n2"]).select(
        "id_a", "id_b", score.alias("soft_tfidf")
    )


QUERIES["er_soft_tfidf"] = q_er_soft_tfidf


def _soft_tfidf_oracle_sql() -> str:
    from levenshtein_spark.oracles import dd_word_tokens

    wt = dd_word_tokens("c_name")
    return f"""
WITH cand AS (SELECT id_a, id_b FROM ({_CUST_PAIRS}) p),
tf AS (
  SELECT c_custkey AS id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT c_custkey, unnest({wt}) AS tok FROM customer) t
  GROUP BY 1, 2
),
dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer),
w AS (
  SELECT id, tok,
         tf * CAST(round((CAST((SELECT n FROM n) - df AS DOUBLE) + 0.5)
                         * {float(_ST_IDF_Q)!r}
                         / ((CAST(df AS DOUBLE) + 0.5)
                            * CAST((SELECT n FROM n) AS DOUBLE))) AS BIGINT) AS w
  FROM tf JOIN dfs USING (tok)
),
norms AS (SELECT id, sum(w * w) AS n2 FROM w GROUP BY id),
grid AS (
  SELECT c.id_a, c.id_b, a.tok AS ta, a.w AS wa,
         CAST(round(jaro_winkler_similarity(a.tok, b.tok) * {_ST_JW_Q}) AS BIGINT)
           * {_ST_PACK} + b.w AS pk
  FROM cand c
  JOIN w a ON a.id = c.id_a
  JOIN w b ON b.id = c.id_b
),
best AS (SELECT id_a, id_b, ta, wa, max(pk) AS pk FROM grid GROUP BY 1, 2, 3, 4),
sums AS (
  SELECT id_a, id_b,
         sum(CASE WHEN pk // {_ST_PACK} >= {_ST_THETA_Q}
                  THEN wa * (pk % {_ST_PACK}) * (pk // {_ST_PACK})
                  ELSE 0 END) AS s
  FROM best GROUP BY 1, 2
)
SELECT s.id_a, s.id_b,
       round(CAST(s.s AS DOUBLE) /
             (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))
              * {float(_ST_JW_Q)!r}), 6) AS soft_tfidf
FROM sums s
JOIN norms na ON na.id = s.id_a
JOIN norms nb ON nb.id = s.id_b
"""


ORACLES["er_soft_tfidf"] = _soft_tfidf_oracle_sql()


# ---------------------------------------------------------------------------
# The Fellegi–Sunter comparison vector: every comparator in one pass
# ---------------------------------------------------------------------------
_FV_K = 4  # bounded-OSA cap for the distance feature


def q_er_feature_vector(spark: SparkSession, sf: str) -> DataFrame:
    """The COMPARISON-VECTOR stage of a Fellegi–Sunter linkage system: one
    row per candidate pair carrying the full comparator stack side by side
    — bounded OSA distance (the reference kernel), Jaro–Winkler, Smith–
    Waterman local alignment (+ its normalized form), and Monge–Elkan —
    the input a weight-training step (``fs_em_weights``) or a clerical-
    review UI consumes. Runs on the same deterministic 1-in-{mod} pair
    sample as ``er_smith_waterman`` (the oracle re-derives OSA and SW
    through their recursive-CTE DPs, so the sample keeps it tractable).

    Scale shape: ONE pass over the slim sampled pair stream for the three
    scalar comparators (a single ArrowEvalPython node evaluates all three
    kernels batch-wise — pairs are materialized once, not per comparator);
    Monge–Elkan adds its token-grid aggregation joined back by pair id.
    """
    from levenshtein_spark.functions.align import SW_MATCH, smith_waterman
    from levenshtein_spark.functions.distance import (
        bounded_edit_dist_t,
        jaro_winkler,
    )
    from levenshtein_spark.functions.hashing import hash64
    from levenshtein_spark.functions.text import word_tokens

    blocks = _customer_blocks(spark, sf)
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    pairs = pairs.where(
        hash64(
            F.concat(
                F.col("id_a").cast("string"), F.lit("_"), F.col("id_b").cast("string")
            )
        )
        % _SW_SAMPLE_MOD
        == 0
    )
    c = tbl(spark, sf, "customer")
    rec = c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"))
    fat = attach_pair_payload(pairs, rec, ["name"]).transform(scoped_persist)
    scored = fat.select(
        "id_a",
        "id_b",
        bounded_edit_dist_t("name_a", "name_b", _FV_K).alias("d_osa"),
        jaro_winkler("name_a", "name_b").alias("jw"),
        smith_waterman("name_a", "name_b").alias("sw"),
        F.least(F.octet_length("name_a"), F.octet_length("name_b")).alias("__lmin"),
    )
    scored = scored.select(
        "id_a",
        "id_b",
        "d_osa",
        "jw",
        "sw",
        F.round(
            F.col("sw").cast("double")
            / (F.lit(float(SW_MATCH)) * F.greatest(F.lit(1), F.col("__lmin")).cast("double")),
            6,
        ).alias("sw_norm"),
    )
    # Monge–Elkan on the same pair stream (the er_monge_elkan shape)
    ta = fat.select(
        "id_a", "id_b", "name_b",
        F.size(word_tokens(F.col("name_a"))).alias("na"),
        F.posexplode(word_tokens(F.col("name_a"))).alias("pa", "tok_a"),
    )
    tb = ta.select(
        "id_a", "id_b", "na", "pa", "tok_a",
        F.explode(word_tokens(F.col("name_b"))).alias("tok_b"),
    )
    best = (
        tb.select("id_a", "id_b", "na", "pa", jaro_winkler("tok_a", "tok_b").alias("s"))
        .groupBy("id_a", "id_b", "na", "pa")
        .agg(F.round(F.max("s") * _ME_Q).cast("long").alias("q"))
    )
    me = best.groupBy("id_a", "id_b").agg(
        F.round(
            F.sum("q").cast("double")
            / (F.max("na").cast("double") * F.lit(float(_ME_Q))),
            6,
        ).alias("monge_elkan")
    )
    return scored.join(me, ["id_a", "id_b"])


QUERIES["er_feature_vector"] = q_er_feature_vector


def _fv_oracle_sql() -> str:
    from levenshtein_spark.functions.align import SW_MATCH
    from levenshtein_spark.oracles import bounded_osa_expr, dd_hash64, osa_cte, sw_cte

    h = dd_hash64("CAST(id_a AS VARCHAR) || '_' || CAST(id_b AS VARCHAR)")
    # collision-free pid (see _sw_oracle_sql)
    pid_pairs = "SELECT pid, name_a AS s1, name_b AS s2 FROM fvcand"
    return f"""
WITH RECURSIVE
fvcand AS (
  SELECT id_a, id_b, name_a, name_b,
         row_number() OVER (ORDER BY id_a, id_b) AS pid
  FROM ({_CUST_PAIRS}) p
  WHERE ({h}) % {_SW_SAMPLE_MOD} = 0
),
{osa_cte(pid_pairs)},
{sw_cte(pid_pairs)},
fvtk AS (
  SELECT id_a, id_b,
         {_ME_TOKS.format(c="name_a")} AS ta,
         {_ME_TOKS.format(c="name_b")} AS tb
  FROM fvcand
),
fvme AS (
  SELECT id_a, id_b,
         round(CAST(list_sum(list_transform(ta, a -> CAST(round(
                 list_max(list_transform(tb, b -> jaro_winkler_similarity(a, b)))
                 * {_ME_Q}) AS BIGINT))) AS DOUBLE)
               / (CAST(len(ta) AS DOUBLE) * {float(_ME_Q)!r}), 6) AS monge_elkan
  FROM fvtk
)
SELECT c.id_a, c.id_b,
       CAST({bounded_osa_expr(_FV_K, "length(p.s1)", "length(p.s2)")} AS BIGINT) AS d_osa,
       jaro_winkler_similarity(c.name_a, c.name_b) AS jw,
       s.sw,
       round(CAST(s.sw AS DOUBLE) /
             ({float(SW_MATCH)!r} * greatest(1, least(strlen(c.name_a), strlen(c.name_b)))), 6)
         AS sw_norm,
       m.monge_elkan
FROM fvcand c
JOIN osa_result r ON r.pid = c.pid
JOIN osa_pairs p ON p.pid = c.pid
JOIN sw_result s ON s.pid = c.pid
JOIN fvme m ON m.id_a = c.id_a AND m.id_b = c.id_b
"""


ORACLES["er_feature_vector"] = _fv_oracle_sql()


# ---------------------------------------------------------------------------
# Clerical-review queue (the FS 'possible' band, most ambiguous first)
# ---------------------------------------------------------------------------
_CQ_TOP = 50
_CQ_MID = (_FS_UPPER + _FS_LOWER) / 2.0


def q_linkage_clerical_queue(spark: SparkSession, sf: str) -> DataFrame:
    """The clerical-review queue every production FS deployment staffs: the
    'possible' band (between the match and non-match thresholds) ranked
    most-ambiguous-first — |weight − midpoint| ascending — so reviewer (or
    active-learning labeler) time goes to the pairs whose label moves the
    decision boundary most. Top {top} with the agreement pattern attached
    (the reviewer sees WHY the pair is ambiguous).

    Determinism: weights are the injected-literal FS sums rounded to 6,
    ambiguity derives from the rounded weight, and the order ties break on
    (id_a, id_b) — bit-stable cross-engine. Scale shape: the global top-k
    compiles to TakeOrderedAndProject (every partition keeps its local top
    {top}, the driver merges k-sized heaps — no global sort); the rank
    column is a window over the ALREADY-limited {top} rows.
    """
    from pyspark.sql import Window

    base = q_fs_match_weights(spark, sf)
    amb = F.round(F.abs(F.col("weight") - F.lit(_CQ_MID)), 6)
    queue = (
        base.where(F.col("match_class") == "possible")
        .select(
            "id_a", "id_b", "name_agree", "nation_agree", "seg_agree",
            "weight", amb.alias("ambiguity"),
        )
        .orderBy("ambiguity", "id_a", "id_b")
        .limit(_CQ_TOP)
    )
    w = Window.orderBy("ambiguity", "id_a", "id_b")
    return queue.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "id_a", "id_b", "name_agree", "nation_agree", "seg_agree",
        "weight", "ambiguity",
    )


QUERIES["linkage_clerical_queue"] = q_linkage_clerical_queue

ORACLES["linkage_clerical_queue"] = f"""
WITH fsq AS ({ORACLES["fs_match_weights"]}),
poss AS (
  SELECT id_a, id_b, name_agree, nation_agree, seg_agree, weight,
         round(abs(weight - {_CQ_MID!r}), 6) AS ambiguity
  FROM fsq WHERE match_class = 'possible'
)
SELECT CAST(row_number() OVER (ORDER BY ambiguity, id_a, id_b) AS INT) AS rank,
       id_a, id_b, name_agree, nation_agree, seg_agree, weight, ambiguity
FROM poss
ORDER BY ambiguity, id_a, id_b
LIMIT {_CQ_TOP}
"""
