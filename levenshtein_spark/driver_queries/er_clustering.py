"""Match-graph clustering algorithms beyond the transitive closure.

The linkage pipeline ships connected components — the highest-recall
clustering of the match graph and the one the BASELINE's north rule names —
but the ER literature's standard finding (Hassanzadeh/Chiang/Lee/Miller,
VLDB 2009, "Framework for evaluating clustering algorithms in duplicate
detection") is that closure over-merges through single spurious bridge
edges, and the practical menu is a spectrum of graph clusterings traded
off by precision/recall. This module exposes the distributable end of that
menu over the SAME predictor graph the cluster-metric queries evaluate
(single-pass SNM candidates scored with the exact edge rule — genuinely
lossy, non-trivial structure):

* ``cluster_star``         — one-round parallel star clustering (Aslam/
  Pelekhov/Rus, JGAA 2004): local degree-dominant nodes become centers,
  everyone else attaches to their dominant-most center neighbor.
* ``cluster_merge_center`` — MERGE-CENTER (Hassanzadeh & Miller, VLDBJ
  2009): star centers merged when adjacent or sharing a common neighbor —
  the middle ground between star and closure.
* ``cluster_pivot``        — KwikCluster correlation clustering (Ailon/
  Charikar/Newman, JACM 2008) via deterministic parallel MIS rounds
  (Chierichetti/Dalvi/Kumar, KDD'14): every cluster is a radius-1 star
  around a pivot, so a spurious edge merges one record, never two
  clusters. Expected 3-approximation of correlation-clustering
  disagreements.
* ``cluster_quality``      — the information-theoretic scorecard of the
  closure labels vs gold: adjusted Rand index, NMI, variation of
  information, homogeneity/completeness/V-measure — the partition-level
  complements of the pairwise-F1 and B-cubed rows.
* ``cluster_algo_compare`` — one row per algorithm (cc / star /
  merge_center / pivot): cluster-shape stats plus co-membership pairwise
  PRF vs the gold closure — the algorithm-selection table the VLDB'09
  framework tabulates.

Every algorithm is deterministic (total orders everywhere: degree with
min-id tie-break; md5-of-id pivot keys), so the DuckDB twins replay the
identical semantics and the driver's hash check is exact.

Cross-engine exactness: cluster labels and counts are integers; the
quality metrics' floating terms are computed with the same per-cell
expression in both engines and rounded to 6 decimals (the log-term sums
differ across engines only at ~1e-13, far below the rounding granularity;
integer-derived doubles stay exact below 2^53).

Reference tie-in: the reference stops at pairwise distances
(doc/Usage.md:101-189); these operators are the entity-formation layer a
corpus-scale deployment of its kernels needs, built on the same verified
edge streams.

Scale shape: star is two joins + two aggregations on the slim symmetric
edge stream; merge-center adds a closure over the (much smaller) center
graph; pivot is O(log n) MIS rounds of groupBy-min + anti-join with the
same lineage truncation as the closure loop; the metrics are
contingency-table aggregations no wider than the record count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.driver_queries.er_eval import (
    _GOLD_EDGES_SQL,
    _PRED_EDGES_CTES,
    _SNM_PAIRS,
    _gold_edges,
    _intra_cluster_pairs,
    _pair_prf,
    _snm_pred_edges,
)
from levenshtein_spark.operators.clustering import (
    cluster_labels,
    merge_center_labels,
    pivot_labels,
    star_labels,
)
from levenshtein_spark.session import scoped_persist


def _ids(spark: SparkSession, sf: str) -> DataFrame:
    return tbl(spark, sf, "customer").select(F.col("c_custkey").cast("long").alias("id"))


def q_cluster_star(spark: SparkSession, sf: str) -> DataFrame:
    return star_labels(_ids(spark, sf), _snm_pred_edges(spark, sf))


def q_cluster_merge_center(spark: SparkSession, sf: str) -> DataFrame:
    return merge_center_labels(_ids(spark, sf), _snm_pred_edges(spark, sf))


def q_cluster_pivot(spark: SparkSession, sf: str) -> DataFrame:
    return pivot_labels(_ids(spark, sf), _snm_pred_edges(spark, sf))


def _labels_pred_gold(spark: SparkSession, sf: str) -> DataFrame:
    ids = _ids(spark, sf)
    pred = cluster_labels(ids, _snm_pred_edges(spark, sf)).select(
        "id", F.col("cluster_id").alias("p")
    )
    gold = cluster_labels(ids, _gold_edges(spark, sf)).select(
        "id", F.col("cluster_id").alias("g")
    )
    return pred.join(gold, "id")


def q_cluster_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-level agreement of the SNM-closure labels vs the gold
    closure. Every metric comes off the (pred, gold) contingency table:

    * ARI — pair-counting agreement corrected for chance (Hubert & Arabie
      1985); integer C(n,2) sums, one final ratio.
    * NMI — mutual information over sqrt(H_p * H_g) (Strehl & Ghosh 2002).
    * VI  — variation of information H_p + H_g - 2*MI (Meilă 2007), the
      metric (true distance) the clustering-comparison literature prefers.
    * homogeneity / completeness / V-measure (Rosenberg & Hirschberg 2007)
      = MI/H_g, MI/H_p and their harmonic mean.

    Degenerate-partition guards (identical in both engines): zero ARI
    denominator → 1.0 (both partitions trivially identical); an entropy of
    zero → NMI/homogeneity/completeness fall back to the sklearn
    conventions (1.0 when both entropies vanish, else 0.0 via the MI=0
    numerator; V-measure 0.0 when h + c = 0).
    """
    t = _labels_pred_gold(spark, sf).transform(scoped_persist)
    cells = t.groupBy("p", "g").agg(F.count(F.lit(1)).alias("n_pg"))
    psz = t.groupBy("p").agg(F.count(F.lit(1)).alias("np"))
    gsz = t.groupBy("g").agg(F.count(F.lit(1)).alias("ng"))
    n_row = t.agg(F.count(F.lit(1)).cast("long").alias("n"))

    nd = F.col("n").cast("double")
    pairs = lambda c: F.col(c).cast("double") * (F.col(c).cast("double") - F.lit(1.0)) / F.lit(2.0)
    # per-cell MI term: (n_pg/n) * ln(n_pg*n / (np*ng)) — identical text in SQL
    mi_term = (F.col("n_pg").cast("double") / nd) * F.log(
        F.col("n_pg").cast("double") * nd / (F.col("np").cast("double") * F.col("ng").cast("double"))
    )
    ent = lambda c: (F.col(c).cast("double") / nd) * F.log(F.col(c).cast("double") / nd)

    cell_agg = (
        cells.join(psz, "p").join(gsz, "g").crossJoin(F.broadcast(n_row))
        .agg(F.sum(pairs("n_pg")).alias("sum_pairs"), F.sum(mi_term).alias("mi"))
    )
    p_agg = psz.crossJoin(F.broadcast(n_row)).agg(
        F.sum(pairs("np")).alias("sum_a"),
        (-F.sum(ent("np"))).alias("hp"),
        F.count(F.lit(1)).cast("long").alias("n_pred_clusters"),
    )
    g_agg = gsz.crossJoin(F.broadcast(n_row)).agg(
        F.sum(pairs("ng")).alias("sum_b"),
        (-F.sum(ent("ng"))).alias("hg"),
        F.count(F.lit(1)).cast("long").alias("n_gold_clusters"),
    )
    m = cell_agg.crossJoin(p_agg).crossJoin(g_agg).crossJoin(n_row)
    npairs = nd * (nd - F.lit(1.0)) / F.lit(2.0)
    exp = F.col("sum_a") * F.col("sum_b") / npairs
    ari_den = F.lit(0.5) * (F.col("sum_a") + F.col("sum_b")) - exp
    ari = F.when(ari_den == 0.0, F.lit(1.0)).otherwise((F.col("sum_pairs") - exp) / ari_den)
    hp, hg, mi = F.col("hp"), F.col("hg"), F.col("mi")
    nmi = (
        F.when((hp == 0.0) & (hg == 0.0), F.lit(1.0))
        .when((hp == 0.0) | (hg == 0.0), F.lit(0.0))
        .otherwise(mi / F.sqrt(hp * hg))
    )
    hom = F.when(hg == 0.0, F.lit(1.0)).otherwise(mi / hg)
    com = F.when(hp == 0.0, F.lit(1.0)).otherwise(mi / hp)
    v = F.when(hom + com == 0.0, F.lit(0.0)).otherwise(F.lit(2.0) * hom * com / (hom + com))
    return m.select(
        F.col("n").alias("n_records"),
        "n_pred_clusters",
        "n_gold_clusters",
        F.round(ari, 6).alias("ari"),
        F.round(nmi, 6).alias("nmi"),
        F.round(hp + hg - F.lit(2.0) * mi, 6).alias("vi"),
        F.round(hom, 6).alias("homogeneity"),
        F.round(com, 6).alias("completeness"),
        F.round(v, 6).alias("v_measure"),
    )


def q_cluster_algo_compare(spark: SparkSession, sf: str) -> DataFrame:
    """The algorithm-selection table: one row per clustering of the SNM
    predictor graph (closure / star / merge-center / pivot), with cluster-
    shape stats and co-membership pairwise PRF vs the gold closure. Reading
    it: cc has the fewest clusters (highest recall / lowest precision);
    pivot and star fragment hardest; merge-center sits between — the
    precision/recall spectrum the VLDB'09 evaluation framework tabulates,
    as one driver-checked row set.

    The four labelings are necessarily separate computations (each has its
    own iterative loop), but everything downstream — cluster-shape stats,
    co-membership pair generation, and the PRF scorecard — runs as ONE
    grouped pass over their tagged union: one (algo, cluster_id) self-join
    for the pairs, one join against the shared gold pair set for tp, and
    4-row joins to assemble the table. At driver scale this replaces 8
    per-algo aggregate jobs with 3; at cluster scale it also shares the
    gold side once instead of four times.

    Size bound: a labelling with clusters ``c`` yields ``Σ_c |c|·(|c|-1)/2``
    co-membership pairs — quadratic in the largest cluster, up to
    ``n·(n-1)/2`` for one cluster over all ``n`` ids. The gold pair set has
    the same bound over the gold clusters, so it is not broadcast: adaptive
    execution picks the tp join strategy from its measured size.

    The independent computations (gold closure; cc; pivot; star followed by
    its dependent merge-center) run as CONCURRENT Spark jobs on
    ``pyspark.InheritableThread``s — their iterative loops are
    driver-sequential action chains whose scheduling gaps would otherwise
    serialize, while on a cluster the executors sit idle between rounds;
    overlapping them puts the wall at the slowest chain instead of the
    sum. InheritableThread (not a plain thread pool) so the branches
    inherit the caller's job group / local properties (cancellation reaches
    them) and their pinned-mode JVM threads are cleaned up on exit."""
    from pyspark import InheritableThread

    ids = _ids(spark, sf).transform(scoped_persist)
    edges = _snm_pred_edges(spark, sf).transform(scoped_persist)
    edges.count()  # materialize the shared cache once, before the fan-out

    def gold_branch() -> DataFrame:
        gp = _intra_cluster_pairs(
            cluster_labels(ids, _gold_edges(spark, sf))
        ).transform(scoped_persist)
        gp.count()
        return gp

    def star_then_merge() -> tuple[DataFrame, DataFrame]:
        star = star_labels(ids, edges).transform(scoped_persist)
        star.count()
        mc = merge_center_labels(ids, edges, star=star).localCheckpoint(eager=True)
        return star.select("id", "cluster_id"), mc

    results: dict = {}
    errors: dict = {}

    def runner(key, fn):
        def run():
            try:
                results[key] = fn()
            except BaseException as exc:  # surfaced on the caller thread below
                errors[key] = exc
        return InheritableThread(target=run, name=f"algo_compare_{key}")

    threads = [
        runner("gold", gold_branch),
        runner("star_mc", star_then_merge),
        runner("cc", lambda: cluster_labels(ids, edges).localCheckpoint(eager=True)),
        runner("pivot", lambda: pivot_labels(ids, edges).localCheckpoint(eager=True)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise next(iter(errors.values()))
    gold_pairs = results["gold"]
    star_slim, mc = results["star_mc"]
    algos = {
        "cc": results["cc"],
        "star": star_slim,
        "merge_center": mc,
        "pivot": results["pivot"],
    }
    # localCheckpoint before the union: each labeling carries the deep
    # lineage of its iterative loop, and the 4-way union of those DAGs makes
    # every downstream action re-plan (and even stringify) a plan tree big
    # enough to OOM the driver. Truncating here keeps the union's plan flat;
    # the labels are tiny (|ids| rows each).
    tagged = [
        labels.select(
            F.lit(name).alias("algo"),
            F.col("id").cast("long").alias("id"),
            "cluster_id",
        ).localCheckpoint(eager=False)
        for name, labels in algos.items()
    ]
    all_labels = tagged[0]
    for t in tagged[1:]:
        all_labels = all_labels.unionByName(t)
    all_labels = all_labels.transform(scoped_persist)

    stats = (
        all_labels.groupBy("algo", "cluster_id")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy("algo")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum(F.when(F.col("sz") == 1, 1).otherwise(0)).cast("long").alias("n_singletons"),
            F.max("sz").cast("long").alias("max_size"),
        )
    )
    a = all_labels.select("algo", "cluster_id", F.col("id").alias("src"))
    b = all_labels.select("algo", "cluster_id", F.col("id").alias("dst"))
    pairs = (
        a.join(b, ["algo", "cluster_id"])
        .where(F.col("src") < F.col("dst"))
        .select("algo", "src", "dst")
        .transform(scoped_persist)
    )
    pred_counts = pairs.groupBy("algo").agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    tp_counts = (
        pairs.join(gold_pairs, ["src", "dst"])
        .groupBy("algo")
        .agg(F.count(F.lit(1)).cast("long").alias("tp"))
    )
    gold_count = gold_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_gold"))

    n_pred = F.coalesce(F.col("n_pred"), F.lit(0)).cast("long")
    tp = F.coalesce(F.col("tp"), F.lit(0)).cast("long")
    n_gold = F.col("n_gold")
    return (
        stats.join(pred_counts, "algo", "left")
        .join(tp_counts, "algo", "left")
        .crossJoin(F.broadcast(gold_count))
        .select(
            "algo", "n_clusters", "n_singletons", "max_size",
            n_pred.alias("n_pred"),
            n_gold.alias("n_gold"),
            tp.alias("tp"),
            (n_pred - tp).cast("long").alias("fp"),
            (n_gold - tp).cast("long").alias("fn"),
            F.round(tp.cast("double") / n_pred, 6).alias("precision"),
            F.round(tp.cast("double") / n_gold, 6).alias("recall"),
            F.round(F.lit(2.0) * tp / (n_pred + n_gold), 6).alias("f1"),
        )
    )


QUERIES = {
    "cluster_star": q_cluster_star,
    "cluster_merge_center": q_cluster_merge_center,
    "cluster_pivot": q_cluster_pivot,
    "cluster_quality": q_cluster_quality,
    "cluster_algo_compare": q_cluster_algo_compare,
}


# -- DuckDB twins -------------------------------------------------------------
# Shared graph CTEs: the SNM predictor edges (same text as the er_eval
# twins), the distinct symmetric neighbor stream, and the id universe.
_GRAPH_CTES = f"""
{_PRED_EDGES_CTES},
sym AS (
  SELECT CAST(src AS BIGINT) AS v, CAST(dst AS BIGINT) AS nb FROM pred_edges
  UNION
  SELECT CAST(dst AS BIGINT), CAST(src AS BIGINT) FROM pred_edges
),
ids AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer)
"""

# star pieces: degree, centers (no dominating neighbor), attachment
_STAR_CTES = """
deg AS (
  SELECT i.id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS deg
  FROM ids i LEFT JOIN (SELECT v, count(*) AS cnt FROM sym GROUP BY v) d ON d.v = i.id
),
centers AS (
  SELECT d.id FROM deg d WHERE NOT EXISTS (
    SELECT 1 FROM sym s JOIN deg e ON e.id = s.nb
    WHERE s.v = d.id AND (e.deg > d.deg OR (e.deg = d.deg AND e.id < d.id)))
),
att AS (
  SELECT v AS id, ctr FROM (
    SELECT s.v, e.id AS ctr,
           row_number() OVER (PARTITION BY s.v ORDER BY e.deg DESC, e.id) AS rn
    FROM sym s JOIN deg e ON e.id = s.nb JOIN centers c ON c.id = s.nb) t
  WHERE rn = 1
),
star AS (
  SELECT d.id, d.deg, (c.id IS NOT NULL) AS is_center,
         CAST(CASE WHEN c.id IS NOT NULL THEN d.id
                   ELSE COALESCE(a.ctr, d.id) END AS BIGINT) AS cluster_id
  FROM deg d
  LEFT JOIN centers c ON c.id = d.id
  LEFT JOIN att a ON a.id = d.id
)
"""

_CLUSTER_STAR_SQL = f"""
WITH
{_GRAPH_CTES},
{_STAR_CTES}
SELECT id, deg, is_center, cluster_id FROM star
"""

# merge-center: center-merge graph (adjacent or sharing a neighbor) -> closure
_MERGE_CTES = """
mc AS (
  SELECT e1.nb AS c1, e2.nb AS c2
  FROM sym e1 JOIN sym e2 ON e1.v = e2.v AND e1.nb < e2.nb
  JOIN centers x ON x.id = e1.nb JOIN centers y ON y.id = e2.nb
  UNION
  SELECT s.v, s.nb FROM sym s
  JOIN centers x ON x.id = s.v JOIN centers y ON y.id = s.nb
  WHERE s.v < s.nb
),
mund AS (SELECT c1 AS a, c2 AS b FROM mc UNION SELECT c2, c1 FROM mc),
mreach(root, node) AS (
  SELECT id, id FROM centers
  UNION
  SELECT r.root, u.b FROM mreach r JOIN mund u ON u.a = r.node
),
merged AS (SELECT root AS ctr, min(node) AS mcl FROM mreach GROUP BY root),
mc_labels AS (
  SELECT s.id, CAST(COALESCE(m.mcl, s.cluster_id) AS BIGINT) AS cluster_id
  FROM star s LEFT JOIN merged m ON m.ctr = s.cluster_id
)
"""

_CLUSTER_MERGE_CENTER_SQL = f"""
WITH RECURSIVE
{_GRAPH_CTES},
{_STAR_CTES},
{_MERGE_CTES}
SELECT id, cluster_id FROM mc_labels
"""

# KwikCluster pivot: greedy-MIS rounds over the deterministic md5 key order,
# then one assignment join — the exact state machine pivot_labels runs.
# pivot_labels orders by the struct (md5(id-as-string), id); this concat
# key realizes the identical total order for the BIGINT customer ids
# (md5 hex is fixed-width, and lpad-to-12 is order-preserving for
# 0 <= id < 10^12), keeping the twin a single scalar comparison. Ids
# outside that range would ORDER DIFFERENTLY than the Spark struct key and
# silently diverge, so the key errors loudly instead (ADVICE r04): every
# current consumer (customer keys, doc_ids) is well inside the bound.
_PIVOT_KEY = (
    "md5(CAST({c} AS VARCHAR)) || CASE WHEN {c} >= 0 AND {c} < 1000000000000 "
    "THEN lpad(CAST({c} AS VARCHAR), 12, '0') "
    "ELSE error('pivot twin: id outside [0, 10^12) breaks the lpad key order') END"
)

_PIVOT_CTES = f"""
keyed AS (SELECT id, {_PIVOT_KEY.format(c='id')} AS kk FROM ids),
state(rnd, id, kk, st) AS (
  SELECT 0, id, kk, 'a' FROM keyed
  UNION ALL
  SELECT s.rnd + 1, s.id, s.kk,
    CASE WHEN s.st <> 'a' THEN s.st
         WHEN NOT EXISTS (SELECT 1 FROM sym e JOIN state t ON t.id = e.nb
                          WHERE e.v = s.id AND t.st = 'a' AND t.kk < s.kk)
           THEN 'p'
         WHEN EXISTS (SELECT 1 FROM sym e JOIN state t ON t.id = e.nb
                      WHERE e.v = s.id AND t.st = 'a'
                        AND NOT EXISTS (SELECT 1 FROM sym e2 JOIN state u ON u.id = e2.nb
                                        WHERE e2.v = t.id AND u.st = 'a' AND u.kk < t.kk))
           THEN 'c'
         ELSE 'a' END
  FROM state s
  WHERE s.rnd < 64 AND EXISTS (SELECT 1 FROM state x WHERE x.st = 'a')
),
pivots AS (SELECT DISTINCT id FROM state WHERE st = 'p'),
pv_labels AS (
  SELECT i.id,
         CAST(CASE WHEN p.id IS NOT NULL THEN i.id
              ELSE (SELECT q.nb FROM sym q JOIN pivots pp ON pp.id = q.nb
                    WHERE q.v = i.id
                    ORDER BY {_PIVOT_KEY.format(c='q.nb')} LIMIT 1)
              END AS BIGINT) AS cluster_id
  FROM ids i LEFT JOIN pivots p ON p.id = i.id
  -- non-convergence sentinel: the recursion hard-stops at rnd=64 while the
  -- Spark side raises; a surviving 'a' state would otherwise yield silently
  -- wrong labels. The extra row breaks the row-count/hash compare loudly.
  -- Practically unreachable (6 rounds observed at 10M nodes).
  UNION ALL
  SELECT CAST(-1 AS BIGINT), CAST(NULL AS BIGINT)
  WHERE EXISTS (SELECT 1 FROM state s
                WHERE s.rnd = (SELECT max(rnd) FROM state) AND s.st = 'a')
)
"""

_CLUSTER_PIVOT_SQL = f"""
WITH RECURSIVE
{_GRAPH_CTES},
{_PIVOT_CTES}
SELECT id, cluster_id FROM pv_labels
"""

# closure labels of an undirected edge CTE named {e}, seeded from ids
def _reach(prefix: str, e: str) -> str:
    return f"""
{prefix}_und AS (SELECT src AS a, dst AS b FROM {e} UNION SELECT dst, src FROM {e}),
{prefix}_reach(root, node) AS (
  SELECT id, id FROM ids
  UNION
  SELECT r.root, u.b FROM {prefix}_reach r JOIN {prefix}_und u ON u.a = r.node
),
{prefix}_labels AS (SELECT root AS id, min(node) AS cluster_id FROM {prefix}_reach GROUP BY root)
"""


_QUALITY_SQL = f"""
WITH RECURSIVE
{_GRAPH_CTES},
gold_edges AS ({_GOLD_EDGES_SQL}),
{_reach('pred', 'pred_edges')},
{_reach('gold', 'gold_edges')},
t AS (
  SELECT p.id, p.cluster_id AS p, g.cluster_id AS g
  FROM pred_labels p JOIN gold_labels g USING (id)
),
cells AS (SELECT p, g, CAST(count(*) AS BIGINT) AS n_pg FROM t GROUP BY p, g),
psz AS (SELECT p, CAST(count(*) AS BIGINT) AS np FROM t GROUP BY p),
gsz AS (SELECT g, CAST(count(*) AS BIGINT) AS ng FROM t GROUP BY g),
nrow AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
cell_agg AS (
  SELECT sum(CAST(n_pg AS DOUBLE) * (CAST(n_pg AS DOUBLE) - 1.0) / 2.0) AS sum_pairs,
         sum((CAST(n_pg AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(n_pg AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(np AS DOUBLE) * CAST(ng AS DOUBLE)))) AS mi
  FROM cells JOIN psz USING (p) JOIN gsz USING (g) CROSS JOIN nrow
),
p_agg AS (
  SELECT sum(CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) - 1.0) / 2.0) AS sum_a,
         -sum((CAST(np AS DOUBLE) / CAST(n AS DOUBLE))
              * ln(CAST(np AS DOUBLE) / CAST(n AS DOUBLE))) AS hp,
         CAST(count(*) AS BIGINT) AS n_pred_clusters
  FROM psz CROSS JOIN nrow
),
g_agg AS (
  SELECT sum(CAST(ng AS DOUBLE) * (CAST(ng AS DOUBLE) - 1.0) / 2.0) AS sum_b,
         -sum((CAST(ng AS DOUBLE) / CAST(n AS DOUBLE))
              * ln(CAST(ng AS DOUBLE) / CAST(n AS DOUBLE))) AS hg,
         CAST(count(*) AS BIGINT) AS n_gold_clusters
  FROM gsz CROSS JOIN nrow
),
m AS (
  SELECT *,
         CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0 AS npairs
  FROM cell_agg CROSS JOIN p_agg CROSS JOIN g_agg CROSS JOIN nrow
),
fin AS (
  SELECT n, n_pred_clusters, n_gold_clusters, sum_pairs, mi, hp, hg,
         sum_a * sum_b / npairs AS expv,
         0.5 * (sum_a + sum_b) - sum_a * sum_b / npairs AS ari_den
  FROM m
)
SELECT n AS n_records, n_pred_clusters, n_gold_clusters,
       round(CASE WHEN ari_den = 0.0 THEN 1.0
                  ELSE (sum_pairs - expv) / ari_den END, 6) AS ari,
       round(CASE WHEN hp = 0.0 AND hg = 0.0 THEN 1.0
                  WHEN hp = 0.0 OR hg = 0.0 THEN 0.0
                  ELSE mi / sqrt(hp * hg) END, 6) AS nmi,
       round(hp + hg - 2.0 * mi, 6) AS vi,
       round(CASE WHEN hg = 0.0 THEN 1.0 ELSE mi / hg END, 6) AS homogeneity,
       round(CASE WHEN hp = 0.0 THEN 1.0 ELSE mi / hp END, 6) AS completeness,
       round(CASE WHEN (CASE WHEN hg = 0.0 THEN 1.0 ELSE mi / hg END)
                      + (CASE WHEN hp = 0.0 THEN 1.0 ELSE mi / hp END) = 0.0 THEN 0.0
                  ELSE 2.0 * (CASE WHEN hg = 0.0 THEN 1.0 ELSE mi / hg END)
                       * (CASE WHEN hp = 0.0 THEN 1.0 ELSE mi / hp END)
                       / ((CASE WHEN hg = 0.0 THEN 1.0 ELSE mi / hg END)
                          + (CASE WHEN hp = 0.0 THEN 1.0 ELSE mi / hp END)) END, 6) AS v_measure
FROM fin
"""


def _algo_row(algo: str, labels: str) -> str:
    """Stats + co-membership PRF vs gold pairs for a labeling CTE
    (id, cluster_id) — the same arithmetic as the Spark _pair_prf."""
    return f"""
SELECT '{algo}' AS algo, st.n_clusters, st.n_singletons, st.max_size,
       m.n_pred, m.n_gold, m.tp,
       m.n_pred - m.tp AS fp, m.n_gold - m.tp AS fn,
       round(CAST(m.tp AS DOUBLE) / m.n_pred, 6) AS "precision",
       round(CAST(m.tp AS DOUBLE) / m.n_gold, 6) AS recall,
       round(CAST(2 * m.tp AS DOUBLE) / (m.n_pred + m.n_gold), 6) AS f1
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
         CAST(max(sz) AS BIGINT) AS max_size
  FROM (SELECT cluster_id, count(*) AS sz FROM {labels} GROUP BY cluster_id)
) st CROSS JOIN (
  SELECT CAST(sum(CASE WHEN is_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
         CAST(sum(CASE WHEN is_gold THEN 1 ELSE 0 END) AS BIGINT) AS n_gold,
         CAST(sum(CASE WHEN is_pred AND is_gold THEN 1 ELSE 0 END) AS BIGINT) AS tp
  FROM (
    SELECT (p.src IS NOT NULL) AS is_pred, (g.src IS NOT NULL) AS is_gold
    FROM (SELECT a.id AS src, b.id AS dst FROM {labels} a
          JOIN {labels} b ON a.cluster_id = b.cluster_id AND a.id < b.id) p
    FULL OUTER JOIN gold_pairs g ON p.src = g.src AND p.dst = g.dst
  )
) m
"""


_ALGO_COMPARE_SQL = f"""
WITH RECURSIVE
{_GRAPH_CTES},
{_STAR_CTES},
{_MERGE_CTES},
{_PIVOT_CTES},
gold_edges AS ({_GOLD_EDGES_SQL}),
{_reach('pred', 'pred_edges')},
{_reach('gold', 'gold_edges')},
cc_labels AS (SELECT id, CAST(cluster_id AS BIGINT) AS cluster_id FROM pred_labels),
star_l AS (SELECT id, cluster_id FROM star),
gold_pairs AS (
  SELECT a.id AS src, b.id AS dst FROM gold_labels a
  JOIN gold_labels b ON a.cluster_id = b.cluster_id AND a.id < b.id
)
{_algo_row('cc', 'cc_labels')}
UNION ALL
{_algo_row('star', 'star_l')}
UNION ALL
{_algo_row('merge_center', 'mc_labels')}
UNION ALL
{_algo_row('pivot', 'pv_labels')}
"""


ORACLES = {
    "cluster_star": _CLUSTER_STAR_SQL,
    "cluster_merge_center": _CLUSTER_MERGE_CENTER_SQL,
    "cluster_pivot": _CLUSTER_PIVOT_SQL,
    "cluster_quality": _QUALITY_SQL,
    "cluster_algo_compare": _ALGO_COMPARE_SQL,
}


_SWEEP_MAX_K = 3


def q_cluster_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical entity resolution: the single-linkage dendrogram levels.

    Transitive closure at edge rule "same nation AND name distance <= k" for
    k = 0..3 over ONE scoring pass of the SNM candidates (bounded kernel at
    cap 3; a pair scored once serves every level). One row per k:
    n_edges, n_clusters, n_singletons, max_size — the agglomerative view of
    the match graph, where walking k up the column trades precision for
    recall exactly like walking the FS threshold down
    (``fs_threshold_curve``) or the SNM window up
    (``blocking_window_curve``). Monotone by construction: each level's
    partition refines the next (edge sets are nested), so n_clusters is
    non-increasing and max_size non-decreasing in k — pinned in tests.

    Scale shape: one blocked scoring pass, then per level one closure over
    an edge SUBSET (no rescoring); stats are map-side-combining counts.
    """
    from levenshtein_spark.driver_queries.er_eval import q_snm_pairs
    from levenshtein_spark.functions.distance import bounded_edit_dist
    from levenshtein_spark.operators.pairs import attach_pair_payload

    c = tbl(spark, sf, "customer")
    records = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
    )
    ids = records.select("id")
    cand = q_snm_pairs(spark, sf).select(
        F.least("id_a", "id_b").alias("id_a"), F.greatest("id_a", "id_b").alias("id_b")
    )
    fat = attach_pair_payload(cand, records, ["name", "nation"])
    scored = (
        fat.where(F.col("nation_a") == F.col("nation_b"))
        .select(
            F.col("id_a").alias("src"),
            F.col("id_b").alias("dst"),
            F.when(F.col("name_a") == F.col("name_b"), F.lit(0))
            .otherwise(bounded_edit_dist("name_a", "name_b", _SWEEP_MAX_K))
            .cast("long")
            .alias("dist"),
        )
        .transform(scoped_persist)
    )
    rows = []
    for k in range(_SWEEP_MAX_K + 1):
        edges = scored.where(F.col("dist") <= k).select("src", "dst")
        labels = cluster_labels(ids, edges).transform(scoped_persist)
        sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
        n_edges = edges.count()
        rows.append(
            sizes.agg(
                F.lit(k).cast("long").alias("k"),
                F.lit(n_edges).cast("long").alias("n_edges"),
                F.count(F.lit(1)).cast("long").alias("n_clusters"),
                F.sum(F.when(F.col("sz") == 1, 1).otherwise(0)).cast("long").alias("n_singletons"),
                F.max("sz").cast("long").alias("max_size"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


QUERIES["cluster_threshold_sweep"] = q_cluster_threshold_sweep


def _sweep_level_sql(k: int) -> str:
    return f"""
e{k} AS (SELECT src, dst FROM scored WHERE dist <= {k}),
e{k}_und AS (SELECT src AS a, dst AS b FROM e{k} UNION SELECT dst, src FROM e{k}),
e{k}_reach(root, node) AS (
  SELECT id, id FROM ids
  UNION
  SELECT r.root, u.b FROM e{k}_reach r JOIN e{k}_und u ON u.a = r.node
),
e{k}_labels AS (SELECT root AS id, min(node) AS cluster_id FROM e{k}_reach GROUP BY root),
e{k}_sizes AS (SELECT cluster_id, count(*) AS sz FROM e{k}_labels GROUP BY cluster_id),
e{k}_row AS (
  SELECT CAST({k} AS BIGINT) AS k,
         (SELECT CAST(count(*) AS BIGINT) FROM e{k}) AS n_edges,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
         CAST(max(sz) AS BIGINT) AS max_size
  FROM e{k}_sizes
)"""


_SWEEP_SQL = f"""
WITH RECURSIVE
snm_cand AS (
  SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b FROM ({_SNM_PAIRS})
),
ids AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
scored AS (
  SELECT CAST(c.id_a AS BIGINT) AS src, CAST(c.id_b AS BIGINT) AS dst,
         CASE WHEN x.c_name = y.c_name THEN 0
              ELSE levenshtein(x.c_name, y.c_name) END AS dist
  FROM snm_cand c
  JOIN customer x ON x.c_custkey = c.id_a
  JOIN customer y ON y.c_custkey = c.id_b
  WHERE x.c_nationkey = y.c_nationkey
),
{",".join(_sweep_level_sql(k) for k in range(_SWEEP_MAX_K + 1))}
SELECT * FROM e0_row
UNION ALL SELECT * FROM e1_row
UNION ALL SELECT * FROM e2_row
UNION ALL SELECT * FROM e3_row
"""

ORACLES["cluster_threshold_sweep"] = _SWEEP_SQL
