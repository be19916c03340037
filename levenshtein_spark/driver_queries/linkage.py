"""Pipeline-stage queries: every stage of the linkage plan, driver-checked.

Two tracks share the production operators (normalize → blocking →
candidate_pairs → score_pairs → edges → clustering):

* **documents track** — the documents table projected into the
  ``code_files(repo, path, commit, lang, content)`` shape (BASELINE.json
  input_hint); exercises normalization, the dual length-band grids, the
  path-token MinHash bands, and salted pair generation. Oracles mirror the
  portable md5 hashing in plain SQL.
* **customer track** — customer names carry natural digit-level edit
  structure ('Customer#000000042' vs '...043'), so blocking on nation +
  scoring with bounded Levenshtein yields a real entity graph; oracles use
  DuckDB ``levenshtein`` and a recursive-CTE transitive closure for the
  cluster labels.

``flagship_clusters`` is the ``entry()`` surface: the full pipeline at
sf0.001 ending in per-cluster sizes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from levenshtein_spark.session import scoped_persist
from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.operators.blocking import exploded_blocks
from levenshtein_spark.operators.clustering import cluster_labels
from levenshtein_spark.operators.normalize import normalize
from levenshtein_spark.operators.pairs import (
    attach_pair_payload,
    candidate_pairs,
    candidate_pairs_lr,
)
from levenshtein_spark.operators.scoring import edges as edges_of
from levenshtein_spark.operators.scoring import score_pairs

_PREFIX = 64
_LEN_BAND = 32
_NUM_HASHES = 8
_BANDS = 4


# ---------------------------------------------------------------------------
# documents track
# ---------------------------------------------------------------------------
def docs_as_code_files(spark: SparkSession, sf: str) -> DataFrame:
    """documents → the code_files(repo, path, commit, lang, content) shape."""
    d = tbl(spark, sf, "documents")
    return d.select(
        F.col("source").alias("repo"),
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.col("doc_id").cast("string").alias("commit"),
        F.col("lang").alias("lang"),
        F.col("text").alias("content"),
    )


def q_linkage_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 0: id/sha/length/prefix/path columns (operators.normalize)."""
    n = normalize(docs_as_code_files(spark, sf), prefix_len=_PREFIX)
    return n.select(
        "id",
        "sha",
        F.col("content_len").cast("long").alias("content_len"),
        "content_prefix",
        "path_base",
        F.size("path_tokens").cast("long").alias("n_path_tokens"),
    )


def q_linkage_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 1: exploded (block_key, id) — dual length grids + MinHash bands."""
    n = normalize(docs_as_code_files(spark, sf), prefix_len=_PREFIX)
    return exploded_blocks(n, len_band=_LEN_BAND).select("block_key", "id")


def q_linkage_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 2: distinct candidate pairs with per-pair key multiplicity;
    hot blocks routed through the lossless triangle-salted join.

    Blocks are persisted: the pair operator consumes them four ways (size
    census, hot/normal split, both join sides) and the MinHash expressions
    are costly to recompute. In the production plan the blocks stage is a
    materialized checkpoint table, which serves the same purpose.
    """
    n = normalize(docs_as_code_files(spark, sf), prefix_len=_PREFIX)
    blocks = exploded_blocks(n, len_band=_LEN_BAND).transform(scoped_persist)
    return candidate_pairs(blocks, hot_threshold=200).select(
        "id_a", "id_b", F.col("n_keys").cast("long").alias("n_keys")
    )


# ---------------------------------------------------------------------------
# customer track
# ---------------------------------------------------------------------------
def _customer_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Customers in the blocked-record shape the pair/score operators expect.

    Pigeonhole segment blocking: customer names are fixed-length
    ('Customer#%09d'), so a pair at edit distance <= 1 can only differ by one
    substitution, which touches at most one of the three 3-digit segments —
    the pair therefore agrees exactly on >= 2 segments. Blocking on (nation,
    segment-pair) is lossless for the dist<=1 edge rule while cutting the
    candidate fan-out ~13x vs a per-nation cross product (the set-level
    analogue of the reference's length-difference pre-exit,
    src/prealgorithm.h:77-86, generalized to position pigeonholes)."""
    c = tbl(spark, sf, "customer")
    s1, s2, s3 = (F.substring("c_name", pos, 3) for pos in (10, 13, 16))
    nat = F.col("c_nationkey").cast("string")
    keys = F.array(
        F.concat_ws("|", nat, F.lit("a"), s1, s2),
        F.concat_ws("|", nat, F.lit("b"), s1, s3),
        F.concat_ws("|", nat, F.lit("c"), s2, s3),
    )
    return c.select(F.explode(keys).alias("block_key"), F.col("c_custkey").alias("id"))


def _customer_records(spark: SparkSession, sf: str) -> DataFrame:
    c = tbl(spark, sf, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.sha2(F.col("c_name"), 256).alias("sha"),
        F.col("c_name").alias("path_base"),
        F.col("c_name").alias("content_prefix"),
    )


def _customer_scored(spark: SparkSession, sf: str) -> DataFrame:
    blocks = _customer_blocks(spark, sf).transform(scoped_persist)
    pairs = candidate_pairs(blocks, hot_threshold=500)
    fat = attach_pair_payload(
        pairs, _customer_records(spark, sf), ["sha", "path_base", "content_prefix"]
    )
    return score_pairs(fat, k_content=1, k_path=2, transpositions=False)


def q_linkage_score(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 3: sha short-circuit + Arrow-batched bounded distance, one pass."""
    return _customer_scored(spark, sf).select(
        "id_a", "id_b", "exact_dupe",
        F.col("content_dist").cast("long").alias("content_dist"),
        F.col("path_dist").cast("long").alias("path_dist"),
        "is_match",
    )


def q_linkage_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 4: matching pairs as an edge list."""
    return edges_of(_customer_scored(spark, sf)).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )


def q_linkage_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 5: large-star/small-star transitive closure → entity labels."""
    ids = tbl(spark, sf, "customer").select(F.col("c_custkey").alias("id"))
    e = edges_of(_customer_scored(spark, sf))
    return cluster_labels(ids, e).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_linkage_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-incremental linkage: a delta of new records (every 10th
    customer) is linked against the already-ingested base WITHOUT
    re-pairing the base against itself.

    Edge-set decomposition: blocking keys are per-record, so the full
    candidate set partitions exactly into base×base ∪ delta×base ∪
    delta×delta. The base×base edges are reused as-is (in production: the
    ``is_match`` rows of the scored checkpoint the pipeline already writes —
    plans/linkage.py), the delta×base cross pairs come from the bipartite
    salted operator (``candidate_pairs_lr``), and only the delta blocks
    self-join. Scoring cost scales with |delta|·fanout, not |corpus|².

    The output is the full corpus' cluster labels, and the oracle is the
    UNCHANGED full-batch closure — the driver hash-check IS the proof that
    incremental == batch.
    """
    c = tbl(spark, sf, "customer")
    is_delta = F.col("id") % 10 == 0
    blocks = _customer_blocks(spark, sf).transform(scoped_persist)
    b_base, b_delta = blocks.where(~is_delta), blocks.where(is_delta)
    records = _customer_records(spark, sf)

    def score_edges(pairs: DataFrame) -> DataFrame:
        fat = attach_pair_payload(
            pairs, records, ["sha", "path_base", "content_prefix"]
        )
        return edges_of(score_pairs(fat, k_content=1, k_path=2, transpositions=False))

    base_edges = score_edges(candidate_pairs(b_base, hot_threshold=500).drop("n_keys"))
    cross_pairs = candidate_pairs_lr(b_delta, b_base, hot_threshold=500).select(
        F.least("id_l", "id_r").alias("id_a"), F.greatest("id_l", "id_r").alias("id_b")
    )
    delta_pairs = candidate_pairs(b_delta, hot_threshold=500).drop("n_keys")
    new_edges = score_edges(cross_pairs.unionByName(delta_pairs))

    ids = c.select(F.col("c_custkey").alias("id"))
    return cluster_labels(ids, base_edges.unionByName(new_edges)).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_linkage_golden(spark: SparkSession, sf: str) -> DataFrame:
    """Stage 6 (survivorship): one golden record per entity cluster.

    The classic ER step after transitive closure — merge each cluster into a
    canonical row. Survivorship rule here: keep the member with the highest
    account balance, ties to the lowest id (expressed as one map-side-
    combining ``max(struct(acctbal, -id, name))`` aggregation — no window,
    no per-cluster sort); double-typed merge fields stick to min/max, which
    are order-insensitive and therefore bit-identical across engines
    (unlike sum/avg, whose float addition order differs).
    """
    c = tbl(spark, sf, "customer")
    ids = c.select(F.col("c_custkey").alias("id"))
    labels = cluster_labels(ids, edges_of(_customer_scored(spark, sf)))
    members = labels.join(
        c.select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("acctbal"),
        ),
        "id",
    )
    surv = F.max(
        F.struct(
            F.col("acctbal").alias("bal"),
            (-F.col("id")).alias("nid"),
            F.col("name").alias("nm"),
        )
    ).alias("s")
    return (
        members.groupBy("cluster_id")
        .agg(surv, F.count(F.lit(1)).alias("n"), F.min("acctbal").alias("lo"))
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n").cast("long").alias("n_members"),
            (-F.col("s.nid")).cast("long").alias("survivor_id"),
            F.col("s.nm").alias("survivor_name"),
            F.col("s.bal").alias("survivor_acctbal"),
            F.col("lo").alias("min_acctbal"),
        )
    )


def q_linkage_cluster_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-size histogram over the ER output — the ops scorecard that
    catches blocking/threshold regressions (a runaway giant cluster shows up
    here long before F1 is recomputed) and sizes the skew the downstream
    golden-record stage must absorb."""
    labels = q_linkage_clusters(spark, sf)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    ).select(F.col("cluster_size").cast("long").alias("cluster_size"), "n_clusters")


def flagship_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """entry() surface: full pipeline → one row per entity cluster + size."""
    labels = q_linkage_clusters(spark, sf)
    return (
        labels.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .orderBy(F.col("cluster_size").desc(), F.col("cluster_id"))
    )


QUERIES = {
    "linkage_normalize": q_linkage_normalize,
    "linkage_blocks": q_linkage_blocks,
    "linkage_pairs": q_linkage_pairs,
    "linkage_score": q_linkage_score,
    "linkage_edges": q_linkage_edges,
    "linkage_clusters": q_linkage_clusters,
    "linkage_golden": q_linkage_golden,
    "linkage_incremental": q_linkage_incremental,
    "linkage_cluster_stats": q_linkage_cluster_stats,
}


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------
_DOCS_NORM = f"""
SELECT
  sha256(concat_ws(chr(31), source,
                   source || '/' || CAST(doc_id AS VARCHAR) || '.txt',
                   CAST(doc_id AS VARCHAR))) AS id,
  sha256(coalesce(text, '')) AS sha,
  CAST(strlen(coalesce(text, '')) AS BIGINT) AS content_len,
  substr(coalesce(text, ''), 1, {_PREFIX}) AS content_prefix,
  CAST(doc_id AS VARCHAR) || '.txt' AS path_base,
  list_filter(regexp_split_to_array(lower(source || '/' || CAST(doc_id AS VARCHAR) || '.txt'),
              '[/._-]+'), t -> t <> '') AS path_tokens,
  lang
FROM documents
"""


def _dd_minhash_band_keys() -> list[str]:
    """DuckDB expressions for the {_BANDS} MinHash band keys over path_tokens
    (mirrors functions.hashing.minhash_signature / minhash_band_keys)."""
    rows = _NUM_HASHES // _BANDS
    # double-hashing family (functions.hashing._mh_base): two md5 base
    # hashes per token, slot_i = (h1m + i*h2o) mod 2^31, h2o forced odd
    mod = 1 << 31
    h1m = f"(('0x' || substr(md5(concat('mh0', chr(31), t)), 1, 15))::BIGINT) % {mod}"
    h2o = f"((('0x' || substr(md5(concat('mh1', chr(31), t)), 1, 15))::BIGINT) % {mod}) | 1"
    slots = [
        f"list_min(list_transform(path_tokens, t -> (({h1m}) + {i} * ({h2o})) % {mod}))"
        for i in range(_NUM_HASHES)
    ]
    keys = []
    for b in range(_BANDS):
        part = slots[b * rows : (b + 1) * rows]
        joined = " || '_' || ".join(f"CAST({s} AS VARCHAR)" for s in part)
        keys.append(f"'mh|' || lang || '|' || 'b{b}:' || md5({joined})")
    return keys


def _docs_blocks_sql() -> str:
    mh = _dd_minhash_band_keys()
    selects = [
        f"SELECT 'len0|' || lang || '|' || CAST(CAST(floor(content_len / {_LEN_BAND}) AS BIGINT) AS VARCHAR) AS block_key, id FROM norm",
        f"SELECT 'len1|' || lang || '|' || CAST(CAST(floor((content_len + {_LEN_BAND // 2}) / {_LEN_BAND}) AS BIGINT) AS VARCHAR) AS block_key, id FROM norm",
        *[f"SELECT {k} AS block_key, id FROM norm" for k in mh],
    ]
    return f"WITH norm AS ({_DOCS_NORM})\n" + "\nUNION ALL\n".join(selects)


# candidate universe of the segment blocking (>= 2 of 3 digit segments equal)
_CUST_PAIRS = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b
FROM (SELECT c_custkey, c_name, c_nationkey, substr(c_name, 10, 3) AS s1,
             substr(c_name, 13, 3) AS s2, substr(c_name, 16, 3) AS s3
      FROM customer) a
JOIN (SELECT c_custkey, c_name, c_nationkey, substr(c_name, 10, 3) AS s1,
             substr(c_name, 13, 3) AS s2, substr(c_name, 16, 3) AS s3
      FROM customer) b
  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
 AND ((a.s1 = b.s1 AND a.s2 = b.s2) OR (a.s1 = b.s1 AND a.s3 = b.s3)
      OR (a.s2 = b.s2 AND a.s3 = b.s3))
"""

# reference bounded convention: k_eff = least(k, max(len)), exceeded → k_eff+1
_CUST_SCORE = f"""
SELECT id_a, id_b,
       (name_a = name_b) AS exact_dupe,
       CASE WHEN name_a = name_b THEN CAST(0 AS BIGINT)
            ELSE CAST(least(levenshtein(name_a, name_b),
                 least(1, greatest(length(name_a), length(name_b))) + 1) AS BIGINT)
       END AS content_dist,
       CAST(least(levenshtein(name_a, name_b),
            least(2, greatest(length(name_a), length(name_b))) + 1) AS BIGINT) AS path_dist
FROM ({_CUST_PAIRS}) p
"""

_CUST_EDGES = f"""
SELECT id_a AS src, id_b AS dst
FROM ({_CUST_SCORE}) s
WHERE exact_dupe OR content_dist <= 1
"""

# transitive closure by recursive reachability (UNION dedups, so cycles
# terminate); label = min reachable id; singletons label themselves. The
# single source of truth for every cluster-level oracle below.
_CUST_CLUSTERS = f"""
WITH RECURSIVE edges AS ({_CUST_EDGES}),
und AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT dst AS a, src AS b FROM edges
),
reach(root, node) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION
  SELECT r.root, u.b FROM reach r JOIN und u ON u.a = r.node
)
SELECT CAST(root AS BIGINT) AS id, CAST(min(node) AS BIGINT) AS cluster_id
FROM reach GROUP BY root
"""

ORACLES = {
    "linkage_normalize": f"""
SELECT id, sha, content_len, content_prefix, path_base,
       CAST(len(path_tokens) AS BIGINT) AS n_path_tokens
FROM ({_DOCS_NORM}) n
""",
    "linkage_blocks": _docs_blocks_sql(),
    "linkage_pairs": f"""
WITH blocks AS ({_docs_blocks_sql()})
SELECT l.id AS id_a, r.id AS id_b, CAST(count(*) AS BIGINT) AS n_keys
FROM blocks l JOIN blocks r ON l.block_key = r.block_key AND l.id < r.id
GROUP BY l.id, r.id
""",
    "linkage_score": f"""
SELECT id_a, id_b, exact_dupe, content_dist, path_dist,
       (exact_dupe OR content_dist <= 1) AS is_match
FROM ({_CUST_SCORE}) s
""",
    "linkage_edges": _CUST_EDGES,
    "linkage_clusters": _CUST_CLUSTERS,
    # incremental == batch: the oracle IS the same full-batch closure the
    # linkage_clusters query checks against — a hash match proves the
    # base/delta edge decomposition loses and invents nothing
    "linkage_incremental": _CUST_CLUSTERS,
    "linkage_cluster_stats": f"""
WITH labels AS ({_CUST_CLUSTERS}),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
""",
    # survivorship: highest acctbal wins, ties to lowest id; double merge
    # fields restricted to min/max (order-insensitive, engine-portable)
    "linkage_golden": f"""
WITH labels AS ({_CUST_CLUSTERS}),
members AS (
  SELECT l.cluster_id, c.c_custkey AS id, c.c_name AS name, c.c_acctbal AS acctbal,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rn
  FROM labels l JOIN customer c ON c.c_custkey = l.id
)
SELECT m.cluster_id,
       CAST(s.n AS BIGINT) AS n_members,
       CAST(m.id AS BIGINT) AS survivor_id,
       m.name AS survivor_name,
       m.acctbal AS survivor_acctbal,
       s.lo AS min_acctbal
FROM members m
JOIN (SELECT cluster_id, count(*) AS n, min(acctbal) AS lo
      FROM members GROUP BY cluster_id) s USING (cluster_id)
WHERE m.rn = 1
""",
}
