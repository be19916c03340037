"""Reference-UDF catalog queries (one per function in ReadMe.md:29-38).

Each query exercises one public function of ``levenshtein_spark.functions.
distance`` / ``operators.closest`` over the driver's parquet tables, and each
oracle reproduces the *reference* semantics in DuckDB SQL — including true
OSA via the recursive-CTE dynamic program in ``levenshtein_spark.oracles``
(DuckDB's own ``damerau_levenshtein`` is the unrestricted variant and would
disagree on pairs like ('CA','ABC')).

Pair sets are deterministic self-joins on adjacent keys: customer names
('Customer#000000042') give digit-level edits, part names ('red widget')
give word-level edits.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.functions import distance as D
from levenshtein_spark.operators.closest import min_edit_dist_t
from levenshtein_spark.oracles import bounded_osa_expr, osa_cte

# -- deterministic probe strings for closest-match queries -------------------
_PROBES_CUST = ["Customer#00000012", "Custoner#000000777", "Customer#0000x0042"]
_PROBES_PART = ["small ring", "red widgets", "blue gadget"]

_CUST_PAIRS_SQL = """
SELECT c1.c_custkey AS pid, c1.c_name AS s1, c2.c_name AS s2
FROM customer c1 JOIN customer c2 ON c2.c_custkey = c1.c_custkey + 1
WHERE c1.c_custkey < {lim}
"""

_PART_PAIRS_SQL = """
SELECT p1.p_partkey AS pid, p1.p_name AS s1, p2.p_name AS s2
FROM part p1 JOIN part p2 ON p2.p_partkey = p1.p_partkey + 1
WHERE p1.p_partkey < {lim}
"""


def _cust_pairs(spark: SparkSession, sf: str, lim: int | None = None) -> DataFrame:
    c = tbl(spark, sf, "customer")
    a = c.select(F.col("c_custkey").alias("pid"), F.col("c_name").alias("s1"))
    b = c.select((F.col("c_custkey") - 1).alias("pid"), F.col("c_name").alias("s2"))
    out = a.join(b, "pid")
    return out.where(F.col("pid") < lim) if lim is not None else out


def _part_pairs(spark: SparkSession, sf: str, lim: int) -> DataFrame:
    p = tbl(spark, sf, "part")
    a = p.select(F.col("p_partkey").alias("pid"), F.col("p_name").alias("s1"))
    b = p.select((F.col("p_partkey") - 1).alias("pid"), F.col("p_name").alias("s2"))
    return a.join(b, "pid").where(F.col("pid") < lim)


# -- 1/2: unbounded distances -------------------------------------------------
def q_edit_dist(spark: SparkSession, sf: str) -> DataFrame:
    """Reference ``edit_dist`` (src/edit_dist.cpp): unbounded Levenshtein."""
    return _cust_pairs(spark, sf).select("pid", D.edit_dist("s1", "s2").alias("dist"))


def q_edit_dist_t(spark: SparkSession, sf: str) -> DataFrame:
    """Reference ``edit_dist_t`` (src/edit_dist_t.cpp): unbounded OSA."""
    return _part_pairs(spark, sf, 400).select("pid", D.edit_dist_t("s1", "s2").alias("dist"))


# -- 3/4: bounded distances ----------------------------------------------------
def q_bounded_edit_dist(spark: SparkSession, sf: str) -> DataFrame:
    """Reference ``bounded_edit_dist``: Levenshtein, > k_eff → k_eff+1."""
    return _cust_pairs(spark, sf).select(
        "pid", D.bounded_edit_dist("s1", "s2", 2).alias("dist")
    )


def q_bounded_edit_dist_builtin(spark: SparkSession, sf: str) -> DataFrame:
    """JVM fast path: Spark thresholded ``levenshtein`` rewrapped to the
    reference k+1 convention (whole-stage codegen, no Python boundary)."""
    return _cust_pairs(spark, sf).select(
        "pid", D.bounded_edit_dist_builtin("s1", "s2", 2).alias("dist")
    )


def q_bounded_edit_dist_t(spark: SparkSession, sf: str) -> DataFrame:
    """Reference ``bounded_edit_dist_t`` — the pipeline's scoring primitive."""
    return _part_pairs(spark, sf, 400).select(
        "pid", D.bounded_edit_dist_t("s1", "s2", 3).alias("dist")
    )


# -- 7: similarity --------------------------------------------------------------
def q_similarity_t(spark: SparkSession, sf: str) -> DataFrame:
    """Reference ``similarity_t``: normalized OSA similarity, p = 0.75."""
    return _cust_pairs(spark, sf, 400).select(
        "pid", F.round(D.similarity_t("s1", "s2", 0.75), 6).alias("sim")
    )


# -- 5/6/8: closest-match (min_*) re-expressed as arg-min aggregations ----------
def q_min_edit_dist(spark: SparkSession, sf: str) -> DataFrame:
    """Reference ``min_edit_dist`` (closest match by bounded Levenshtein).

    Cross-row mutable state (src/min_edit_dist.cpp:65-72) re-expressed as a
    map-side arg-min: ``min_edit_dist_t`` runs one ``mapInArrow`` task per
    core, with the probes shipped to each task.
    """
    probes = spark.createDataFrame([(p,) for p in _PROBES_CUST], "probe string")
    cand = tbl(spark, sf, "customer")
    best = min_edit_dist_t(probes, cand, "probe", "c_name", 6, transpositions=False)
    return best.select("probe", F.col("c_name").alias("best_name"), "dist")


def q_min_edit_dist_t(spark: SparkSession, sf: str) -> DataFrame:
    """Reference ``min_edit_dist_t``: closest candidate by bounded OSA."""
    probes = spark.createDataFrame([(p,) for p in _PROBES_CUST], "probe string")
    cand = tbl(spark, sf, "customer").where("c_custkey < 150")
    best = min_edit_dist_t(probes, cand, "probe", "c_name", 6)
    return best.select("probe", F.col("c_name").alias("best_name"), "dist")


def q_min_similarity_t(spark: SparkSession, sf: str) -> DataFrame:
    """Reference ``min_similarity_t``: most similar candidate per probe (OSA)."""
    probes = spark.createDataFrame([(p,) for p in _PROBES_CUST], "probe string")
    cand = tbl(spark, sf, "customer").where("c_custkey < 150")
    scored = cand.crossJoin(F.broadcast(probes)).select(
        "probe",
        F.col("c_name").alias("best_name"),
        # adaptive-floor twin (min_similarity_t's mutable max_result):
        # exact for the arg-max winner + ties, which is all that survives
        F.round(D.similarity_t_closest("probe", "c_name", 0.5), 6).alias("sim"),
    )
    # arg-max on (sim DESC, name ASC) = arg-min on (-sim, name)
    best = scored.groupBy("probe").agg(
        F.min(F.struct((-F.col("sim")).alias("neg"), "best_name")).alias("b")
    )
    return best.select(
        "probe", F.col("b.best_name").alias("best_name"), (-F.col("b.neg")).alias("sim")
    )


def q_top_k_matches(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 nearest part names per probe (doc/Usage.md:178-189 generalized)."""
    probes = spark.createDataFrame([(p,) for p in _PROBES_PART], "probe string")
    cand = tbl(spark, sf, "part")
    scored = cand.crossJoin(F.broadcast(probes)).select(
        "probe",
        F.col("p_partkey").alias("p_partkey"),
        F.col("p_name").alias("p_name"),
        D.bounded_edit_dist("probe", "p_name", 5).alias("dist"),
    )
    w = Window.partitionBy("probe").orderBy("dist", "p_name", "p_partkey")
    return scored.withColumn("rank", F.row_number().over(w)).where("rank <= 3")


def q_sql_usage_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's SQL surface end-to-end: register the catalog with
    ``register_all`` (incl. legacy names, doc/Notes.md:17-26) and run the
    doc/Usage.md:101-108 filter-by-distance query VERBATIM through
    ``spark.sql`` — new name and legacy name side by side.
    """
    from levenshtein_spark.functions.register import register_all

    register_all(spark)
    tbl(spark, sf, "customer").createOrReplaceTempView("customer_sqlreg")
    return spark.sql(
        """
        SELECT c_custkey,
               bounded_edit_dist(c_name, 'Customer#000000042', 6) AS dist,
               levlim(c_name, 'Customer#000000042', 6) AS dist_legacy
        FROM customer_sqlreg
        WHERE bounded_edit_dist(c_name, 'Customer#000000042', 6) <= 6
        """
    )


QUERIES = {
    "edit_dist": q_edit_dist,
    "sql_usage_filter": q_sql_usage_filter,
    "edit_dist_t": q_edit_dist_t,
    "bounded_edit_dist": q_bounded_edit_dist,
    "bounded_edit_dist_builtin": q_bounded_edit_dist_builtin,
    "bounded_edit_dist_t": q_bounded_edit_dist_t,
    "similarity_t": q_similarity_t,
    "min_edit_dist": q_min_edit_dist,
    "min_edit_dist_t": q_min_edit_dist_t,
    "min_similarity_t": q_min_similarity_t,
    "top_k_matches": q_top_k_matches,
}

_lev_pairs = _CUST_PAIRS_SQL.format(lim=10**9).replace("WHERE c1.c_custkey < 1000000000", "")

_PROBE_VALUES_CUST = ", ".join(f"('{p}')" for p in _PROBES_CUST)
_PROBE_VALUES_PART = ", ".join(f"('{p}')" for p in _PROBES_PART)

ORACLES = {
    "edit_dist": f"""
SELECT pid, CAST(levenshtein(s1, s2) AS BIGINT) AS dist
FROM ({_lev_pairs}) pairs
""",
    "sql_usage_filter": """
SELECT c_custkey,
       CAST(least(levenshtein(c_name, 'Customer#000000042'),
                  least(6, greatest(length(c_name), 18)) + 1) AS BIGINT) AS dist,
       CAST(least(levenshtein(c_name, 'Customer#000000042'),
                  least(6, greatest(length(c_name), 18)) + 1) AS BIGINT) AS dist_legacy
FROM customer
WHERE least(levenshtein(c_name, 'Customer#000000042'),
            least(6, greatest(length(c_name), 18)) + 1) <= 6
""",
    "edit_dist_t": f"""
WITH RECURSIVE {osa_cte(_PART_PAIRS_SQL.format(lim=400))}
SELECT pid, osa AS dist FROM osa_result
""",
    "bounded_edit_dist": f"""
SELECT pid,
       CAST(least(levenshtein(s1, s2),
                  least(2, greatest(length(s1), length(s2))) + 1) AS BIGINT) AS dist
FROM ({_lev_pairs}) pairs
""",
    "bounded_edit_dist_builtin": f"""
SELECT pid,
       CAST(least(levenshtein(s1, s2),
                  least(2, greatest(length(s1), length(s2))) + 1) AS BIGINT) AS dist
FROM ({_lev_pairs}) pairs
""",
    "bounded_edit_dist_t": f"""
WITH RECURSIVE {osa_cte(_PART_PAIRS_SQL.format(lim=400))}
SELECT r.pid, CAST({bounded_osa_expr(3, "length(p.s1)", "length(p.s2)")} AS BIGINT) AS dist
FROM osa_result r JOIN osa_pairs p USING (pid)
""",
    # similarity_t: m = max(len), k = trunc((1-p)*m), d = min(osa, k+1),
    # sim = max(0, 1 - d/m)  (src/similarity_t.cpp:56-58,118,284-290)
    "similarity_t": f"""
WITH RECURSIVE {osa_cte(_CUST_PAIRS_SQL.format(lim=400))},
sim AS (
  SELECT r.pid,
         greatest(length(p.s1), length(p.s2)) AS m,
         CAST(trunc((1.0 - 0.75) * greatest(length(p.s1), length(p.s2))) AS BIGINT) AS k,
         r.osa
  FROM osa_result r JOIN osa_pairs p USING (pid)
)
SELECT pid, round(greatest(0.0, 1.0 - least(osa, k + 1) * 1.0 / m), 6) AS sim
FROM sim
""",
    "min_edit_dist": f"""
WITH probes(probe) AS (VALUES {_PROBE_VALUES_CUST}),
scored AS (
  SELECT p.probe, c.c_name AS best_name,
         CAST(least(levenshtein(p.probe, c.c_name),
                    least(6, greatest(length(p.probe), length(c.c_name))) + 1) AS BIGINT) AS dist
  FROM probes p CROSS JOIN customer c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe ORDER BY dist, best_name) AS rn
  FROM scored
)
SELECT probe, best_name, dist FROM ranked WHERE rn = 1
""",
    "min_edit_dist_t": f"""
WITH RECURSIVE {osa_cte('''
SELECT (p.pnum * 1000000 + c.c_custkey) AS pid, p.probe AS s1, c.c_name AS s2
FROM (SELECT row_number() OVER () AS pnum, probe
      FROM (VALUES ''' + _PROBE_VALUES_CUST + ''') t(probe)) p
CROSS JOIN customer c WHERE c.c_custkey < 150
''')},
vals AS (
  SELECT r.pid, p.s1 AS probe, p.s2 AS best_name,
         CAST({bounded_osa_expr(6, "length(p.s1)", "length(p.s2)")} AS BIGINT) AS dist
  FROM osa_result r JOIN osa_pairs p USING (pid)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe ORDER BY dist, best_name) AS rn
  FROM vals
)
SELECT probe, best_name, dist FROM ranked WHERE rn = 1
""",
    "min_similarity_t": f"""
WITH RECURSIVE {osa_cte('''
SELECT (p.pnum * 1000000 + c.c_custkey) AS pid, p.probe AS s1, c.c_name AS s2
FROM (SELECT row_number() OVER () AS pnum, probe
      FROM (VALUES ''' + _PROBE_VALUES_CUST + ''') t(probe)) p
CROSS JOIN customer c WHERE c.c_custkey < 150
''')},
sim AS (
  SELECT r.pid, p.s1 AS probe, p.s2 AS best_name,
         greatest(length(p.s1), length(p.s2)) AS m,
         CAST(trunc((1.0 - 0.5) * greatest(length(p.s1), length(p.s2))) AS BIGINT) AS k,
         r.osa
  FROM osa_result r JOIN osa_pairs p USING (pid)
),
vals AS (
  SELECT probe, best_name,
         round(greatest(0.0, 1.0 - least(osa, k + 1) * 1.0 / m), 6) AS sim
  FROM sim
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe ORDER BY sim DESC, best_name) AS rn
  FROM vals
)
SELECT probe, best_name, sim FROM ranked WHERE rn = 1
""",
    "top_k_matches": f"""
WITH probes(probe) AS (VALUES {_PROBE_VALUES_PART}),
scored AS (
  SELECT p.probe, t.p_partkey, t.p_name,
         CAST(least(levenshtein(p.probe, t.p_name),
                    least(5, greatest(length(p.probe), length(t.p_name))) + 1) AS BIGINT) AS dist
  FROM probes p CROSS JOIN part t
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY probe ORDER BY dist, p_name, p_partkey) AS rank
  FROM scored
)
SELECT probe, p_partkey, p_name, dist, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
""",
}
