"""Relational integration queries — the host-DBMS role the reference's UDFs
plug into (doc/Usage.md query shapes), plus general analytics breadth.

* ``similar_names_by_nation`` — scan + UDF filter + join + aggregate: the
  reference's `SELECT ... WHERE bounded_edit_dist(...) <= k` pattern
  (doc/Usage.md:101-108) lifted to a per-nation fuzzy-match census, with the
  small nation dim broadcast.
* ``events_sessionize`` — sessionization via lag window (30-min gap rule).
* ``pricing_rollup`` — TPC-H-Q1-shaped aggregate pushdown over lineitem.
* ``top_customers_by_revenue`` — join + agg + top-k.
* ``daily_event_stats`` — date_trunc rollup with a 7-day moving average.

Double aggregates are rounded (sums to 2 decimals, averages to 4) because
distributed partial aggregation sums doubles in a different order than
DuckDB's sequential scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.functions.distance import bounded_edit_dist_builtin


def q_similar_names_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Count of customer pairs with name distance <= 1 per nation.

    The candidate universe is the pigeonhole segment blocking shared with the
    customer linkage track (driver_queries.linkage._customer_blocks): names
    are fixed-length, so a dist<=1 pair is a single substitution that touches
    at most one of the three 3-digit segments — agreeing exactly on >= 2 of 3
    segments. Lossless for the dist<=1 rule, and the per-nation self-join
    fan-out drops from O((N/25)^2) to the segment-block sizes (salted via
    ``candidate_pairs``) — no per-nation cross product anywhere in the plan.
    """
    from levenshtein_spark.driver_queries.linkage import _customer_blocks
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs

    c = tbl(spark, sf, "customer")
    n = tbl(spark, sf, "nation")
    pairs = candidate_pairs(_customer_blocks(spark, sf), hot_threshold=500)
    rec = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name"), "c_nationkey"
    )
    fat = attach_pair_payload(pairs.drop("n_keys"), rec, ["name", "c_nationkey"])
    matched = fat.where(bounded_edit_dist_builtin("name_a", "name_b", 1) <= 1)
    return (
        matched.groupBy(F.col("c_nationkey_a").alias("c_nationkey"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "pair_count")
    )


def q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessions per user: a new session starts after a >30-minute gap."""
    e = tbl(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; epoch seconds via an LTZ hop (gaps are TZ-invariant)
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    marked = e.withColumn("new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return marked.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("new_session").cast("long").alias("n_sessions"),
    )


def q_pricing_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: lineitem pricing summary by returnflag/linestatus."""
    li = tbl(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_customers_by_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Top 10 customers by total order value (join + agg + top-k)."""
    o = tbl(spark, sf, "orders")
    c = tbl(spark, sf, "customer")
    rev = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    return (
        rev.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(10)
    )


def q_daily_event_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Events per day with a 7-day trailing moving average."""
    e = tbl(spark, sf, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        F.col("day").cast("date").cast("string").alias("day"),
        "n_events",
        F.round(F.avg("n_events").over(w), 4).alias("ma7"),
    )


def q_events_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured handling: pull a typed field out of the JSON props
    column and aggregate it — the schema-on-read path every event lake
    needs (get_json_object stays whole-stage-codegen; no UDF)."""
    e = tbl(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_pricing_rollup_subtotals(spark: SparkSession, sf: str) -> DataFrame:
    """OLAP ROLLUP: pricing summary with per-flag subtotals and a grand
    total (the GROUPING SETS family). Group keys are coalesced to 'ALL' so
    both engines agree on subtotal markers; the measures are exact-integer-
    valued sums (order-insensitive across engines)."""
    li = tbl(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


def q_revenue_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: customer ⋈ orders ⋈ lineitem ⋈ nation revenue
    rollup — the multi-join plan Catalyst gets to reorder (small dims
    broadcast, fact-fact join shuffles on the key)."""
    c = tbl(spark, sf, "customer")
    o = tbl(spark, sf, "orders")
    li = tbl(spark, sf, "lineitem")
    n = tbl(spark, sf, "nation")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(rev, 2).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


_SIM_P = 0.7
# computed ONCE in Python and repr-injected into the SQL twin: the SQL
# literal 0.3 parses to a DIFFERENT double than Python's 1 - 0.7, and
# floor((1-p)*m) straddles that ulp at some lengths
_ONE_MINUS_P = 1.0 - _SIM_P
_SIM_PLEN = 32


def q_similarity_join_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Similarity-threshold self-join (doc/Usage.md:138-144 as a JOIN): all
    document pairs whose {_SIM_PLEN}-char prefixes have Levenshtein
    similarity >= {_SIM_P}.

    Candidates come from the lossless band ∪ rarest-2-gram-prefix blocking
    (operators/simjoin.py, round-3 rebuild — on this fixed-width-prefix
    corpus pure length banding is one giant band; the content-keyed prefix
    family replaces it for every string past the boundary length); the
    per-pair cap is the reference's similarity-to-max-edits conversion
    k = floor((1-p)*max_len) (src/similarity_t.cpp:56-58), so exceeding
    pairs never run a full DP.
    The Levenshtein (non-transposition) kernel keeps the DuckDB twin exact;
    the OSA variant is the operator's default (`similarity_t`).
    """
    from levenshtein_spark.functions.distance import bounded_edit_dist
    from levenshtein_spark.operators.simjoin import similarity_self_join

    d = tbl(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), F.substring("text", 1, _SIM_PLEN).alias("ptext")
    )

    def lev_sim(a, b):
        # octet_length: the kernel counts byte edits and the DuckDB twin
        # uses strlen (bytes) — char lengths would diverge on non-ASCII
        m = F.greatest(F.octet_length(a), F.octet_length(b))
        k = F.floor(F.lit(_ONE_MINUS_P) * m).cast("long")
        dist = bounded_edit_dist(a, b, k)
        return F.when(m == 0, F.lit(1.0)).otherwise(
            F.greatest(F.lit(0.0), F.lit(1.0) - dist / m)
        )

    out = similarity_self_join(
        d, "ptext", _SIM_P, sim_fn=lev_sim, q=2, transpositions=False,
        hot_threshold=500,
    )
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("sim", 6).alias("sim"),
    )


_EDJ_K = 2
_EDJ_Q = 3
_EDJ_PLEN = 32


def q_edjoin_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance self-join via the Ed-Join prefix-filter generator
    (operators/simjoin.py edit_distance_self_join): all document pairs whose
    32-char prefixes (_EDJ_PLEN) are within Levenshtein distance 2 (_EDJ_K).

    The content-based complement to similarity_join_docs' length banding —
    candidates must share one of each string's k·q+1 RAREST q-grams, so a
    uniform-length corpus (where every length band is one giant block) still
    produces a near-linear candidate set. Exact by the count-filter lemma;
    the brute-force DuckDB twin proves it.
    """
    from levenshtein_spark.operators.simjoin import edit_distance_self_join

    d = tbl(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), F.substring("text", 1, _EDJ_PLEN).alias("ptext")
    )
    out = edit_distance_self_join(
        d, "ptext", k=_EDJ_K, q=_EDJ_Q, hot_threshold=500
    )
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("dist").cast("long").alias("dist"),
    )


_EDJ_OSA_PLEN = 24
_EDJ_OSA_K = 2


def q_edjoin_docs_osa(spark: SparkSession, sf: str) -> DataFrame:
    """The Ed-Join operator in TRANSPOSITIONS mode (per-edit gram damage
    q+1, wider prefix): all document pairs whose 24-char prefixes
    (_EDJ_OSA_PLEN) are within OSA distance 2 (_EDJ_OSA_K). Driver-checks
    the branch the Levenshtein twin (edjoin_docs) cannot reach; the oracle
    is the recursive-CTE reference OSA behind a LOSSLESS levenshtein <= 2k
    prefilter (one transposition = two Levenshtein substitutions), same as
    the streaming_incremental_link twin.
    """
    from levenshtein_spark.operators.simjoin import edit_distance_self_join

    d = tbl(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), F.substring("text", 1, _EDJ_OSA_PLEN).alias("ptext")
    )
    out = edit_distance_self_join(
        d, "ptext", k=_EDJ_OSA_K, q=_EDJ_Q, transpositions=True,
        hot_threshold=500,
    )
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("dist").cast("long").alias("dist"),
    )


def q_fuzzy_join_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Two-table batch linkage (operators.pairs.fuzzy_join): link the
    customer table against a synthetic "dirty batch" — every name with its
    last two characters swapped (a planted adjacent transposition =
    Levenshtein 2). Blocked on (nation, first two digit segments), which is
    exact for the tail mutation, so blocks stay tiny while the candidate
    set provably contains every planted match; bipartite salted candidates
    + slim payload re-attach; bounded Levenshtein kernel at k=2 keeps the
    DuckDB twin a plain expression.
    """
    from levenshtein_spark.functions.distance import bounded_edit_dist
    from levenshtein_spark.operators.pairs import fuzzy_join

    c = tbl(spark, sf, "customer")
    key = F.concat_ws(
        "|", F.col("c_nationkey").cast("string"),
        F.substring("c_name", 10, 3), F.substring("c_name", 13, 3),
    )
    left = c.select(F.col("c_custkey").alias("id"), key.alias("blk"), F.col("c_name").alias("name"))
    mutated = F.concat(
        F.substring("c_name", 1, 16), F.substring("c_name", 18, 1), F.substring("c_name", 17, 1)
    )
    right = c.select(
        (F.col("c_custkey") + 1_000_000).alias("id"), key.alias("blk"), mutated.alias("name")
    )
    out = fuzzy_join(
        left, right, key_col="blk", text_col="name", k=2,
        dist_fn=bounded_edit_dist, hot_threshold=500,
    )
    return out.select("id_l", "id_r", F.col("dist").cast("long").alias("dist"))


def q_fuzzy_join_one_to_one(spark: SparkSession, sf: str) -> DataFrame:
    """Clean-clean 1:1 linkage: the ``fuzzy_join_customers`` candidate set
    reduced to a one-to-one assignment by the MUTUAL-BEST rule — a pair
    survives iff it is the left record's best match AND the right record's
    best match, best = min (dist, other id) so ties are deterministic.
    This is the standard production 1:1 rule for linking two deduplicated
    registries (each real-world entity appears once per side, so a record
    must not link twice; a full Hungarian assignment is overkill and not
    distributable — mutual-best is greedy-free and embarrassingly
    parallel).

    Scale shape: two map-side-combining ``min(struct)`` aggregations (the
    ``closest.py`` arg-min idiom — never a per-key window sort) and one
    slim equi-join; no stage wider than the candidate stream itself.
    """
    from levenshtein_spark.operators.pairs import one_to_one

    cand = q_fuzzy_join_customers(spark, sf)
    return one_to_one(cand).select(
        "id_l", "id_r", F.col("dist").cast("long").alias("dist")
    )


_FUNNEL = ("view", "click", "purchase")


def q_events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: per user, each
    step counts only if it happens STRICTLY AFTER the user's earliest
    completion of the previous step (the standard product-analytics funnel,
    not mere per-type existence). One row per step with the surviving user
    count and the conversion rate from step 1 (exact integer counts, one
    correctly-rounded divide).

    Scale shape: per-step earliest-completion times are map-side-combining
    min aggregations keyed on user_id; each step joins the previous step's
    (user_id, t) table — slim two-column joins, no window over the full
    event stream, no skew wider than one user's events.
    """
    e = tbl(spark, sf, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )

    steps = []
    prev = None
    for etype in _FUNNEL:
        s = e.where(F.col("event_type") == etype)
        if prev is not None:
            s = s.join(prev.select("user_id", "t_prev"), "user_id").where(
                F.col("ts") > F.col("t_prev")
            )
        cur = s.groupBy("user_id").agg(F.min("ts").alias("t"))
        steps.append(cur)
        prev = cur.select("user_id", F.col("t").alias("t_prev"))

    counts = [s.agg(F.count(F.lit(1)).alias("n")) for s in steps]
    rows = None
    for i, (etype, cnt) in enumerate(zip(_FUNNEL, counts)):
        r = cnt.select(
            F.lit(i + 1).cast("long").alias("step"),
            F.lit(etype).alias("event_type"),
            F.col("n").cast("long").alias("n_users"),
        )
        rows = r if rows is None else rows.unionByName(r)
    base = counts[0].select(F.col("n").alias("n_base"))
    return rows.join(F.broadcast(base)).select(
        "step",
        "event_type",
        "n_users",
        # n_base = 0 must yield NULL, not NaN: Spark 0.0/0.0 is NaN while
        # DuckDB's is NULL — guard the divide on both sides
        F.when(
            F.col("n_base") > 0,
            F.col("n_users").cast("double") / F.col("n_base").cast("double"),
        ).alias("conversion"),
    )


QUERIES = {
    "similar_names_by_nation": q_similar_names_by_nation,
    "similarity_join_docs": q_similarity_join_docs,
    "edjoin_docs": q_edjoin_docs,
    "edjoin_docs_osa": q_edjoin_docs_osa,
    "fuzzy_join_customers": q_fuzzy_join_customers,
    "fuzzy_join_one_to_one": q_fuzzy_join_one_to_one,
    "events_sessionize": q_events_sessionize,
    "pricing_rollup": q_pricing_rollup,
    "pricing_rollup_subtotals": q_pricing_rollup_subtotals,
    "revenue_by_nation": q_revenue_by_nation,
    "events_json_extract": q_events_json_extract,
    "top_customers_by_revenue": q_top_customers_by_revenue,
    "daily_event_stats": q_daily_event_stats,
}

from levenshtein_spark.driver_queries.linkage import _CUST_PAIRS

ORACLES = {
    # candidate universe = the segment pigeonhole blocking (>= 2 of 3 digit
    # segments equal), shared with the linkage_* oracles; lossless for dist<=1
    "similar_names_by_nation": f"""
SELECT n.n_name, CAST(count(*) AS BIGINT) AS pair_count
FROM ({_CUST_PAIRS}) p
JOIN customer a ON a.c_custkey = p.id_a
JOIN nation n ON n.n_nationkey = a.c_nationkey
WHERE least(levenshtein(p.name_a, p.name_b),
            least(1, greatest(length(p.name_a), length(p.name_b))) + 1) <= 1
GROUP BY n.n_name
""",
    # blocking is lossless for sim >= p, so the oracle is the brute-force
    # threshold join; sim filtered UNROUNDED in both engines, rounded in the
    # projection only
    "similarity_join_docs": f"""
WITH d AS (SELECT doc_id, substr(text, 1, {_SIM_PLEN}) AS ptext FROM documents),
scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CASE WHEN greatest(strlen(a.ptext), strlen(b.ptext)) = 0 THEN 1.0
              ELSE greatest(0.0, 1.0 -
                least(levenshtein(a.ptext, b.ptext),
                      CAST(floor({_ONE_MINUS_P!r} * greatest(strlen(a.ptext), strlen(b.ptext))) AS BIGINT) + 1)
                * 1.0 / greatest(strlen(a.ptext), strlen(b.ptext)))
         END AS sim
  FROM d a JOIN d b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(sim, 6) AS sim
FROM scored WHERE sim >= {_SIM_P}
""",
    "events_json_extract": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
""",
    "pricing_rollup_subtotals": """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    "revenue_by_nation": """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    # brute-force twin: the prefix-filter blocking is exact (count-filter
    # lemma), so blocked-and-verified == all-pairs
    "edjoin_docs": f"""
WITH s AS (SELECT doc_id, substr(text, 1, {_EDJ_PLEN}) AS pt FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.pt, b.pt) AS BIGINT) AS dist
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE levenshtein(a.pt, b.pt) <= {_EDJ_K}
""",
    "edjoin_docs_osa": None,  # built below (needs the recursive OSA CTE)
    "fuzzy_join_customers": None,  # built below from the shared candidate CTE
    "fuzzy_join_one_to_one": None,  # built below from the shared candidate CTE
    "events_sessionize": """
WITH g AS (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM g GROUP BY user_id
""",
    "pricing_rollup": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
    "top_customers_by_revenue": """
SELECT c.c_custkey, c.c_name, round(sum(o.o_totalprice), 2) AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 10
""",
    "daily_event_stats": """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
)
SELECT CAST(day AS VARCHAR) AS day, n_events,
       round(avg(n_events) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM daily
""",
}


def _edjoin_osa_oracle() -> str:
    from levenshtein_spark.oracles import osa_cte

    pairs = f"""
SELECT row_number() OVER (ORDER BY doc_a, doc_b) AS pid, doc_a, doc_b, s1, s2 FROM (
  WITH s AS (SELECT doc_id, substr(text, 1, {_EDJ_OSA_PLEN}) AS pt FROM documents)
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pt AS s1, b.pt AS s2
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  -- lossless prefilter: one OSA transposition costs two Levenshtein
  -- substitutions, so osa <= k implies levenshtein <= 2k; keeps the
  -- recursive CTE to a few hundred candidate pairs
  WHERE levenshtein(a.pt, b.pt) <= {2 * _EDJ_OSA_K}
)
"""
    return f"""
WITH RECURSIVE {osa_cte(pairs)}
SELECT p.doc_a, p.doc_b, CAST(r.osa AS BIGINT) AS dist
FROM osa_pairs p JOIN osa_result r USING (pid)
WHERE r.osa <= {_EDJ_OSA_K}
"""


ORACLES["edjoin_docs_osa"] = _edjoin_osa_oracle()

QUERIES["events_funnel"] = q_events_funnel
ORACLES["events_funnel"] = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t
  GROUP BY e.user_id
),
c AS (
  SELECT 1 AS step, 'view' AS event_type, (SELECT count(*) FROM s1) AS n_users
  UNION ALL
  SELECT 2, 'click', (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, 'purchase', (SELECT count(*) FROM s3)
)
SELECT CAST(step AS BIGINT) AS step, event_type, CAST(n_users AS BIGINT) AS n_users,
       CASE WHEN (SELECT count(*) FROM s1) > 0
            THEN CAST(n_users AS DOUBLE) / CAST((SELECT count(*) FROM s1) AS DOUBLE)
       END AS conversion
FROM c
"""


def q_events_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly cohort retention — the second product-analytics staple next
    to the funnel: users cohorted by the week of their first event; cell
    (cohort_week, week_offset) counts how many of them were active k weeks
    later. All exact integers (week starts are epoch-aligned, offsets are
    exact multiples of 604800 s).

    Scale shape: first-event times are one map-side-combining min per
    user; the activity table joins back on user_id (slim two-column join);
    the (user, cohort, k) projection is deduped then counted — two stacked
    map-side-combining aggregations, same discipline as dedup_substring's
    support counting. No window over the event stream.
    """
    e = tbl(spark, sf, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    first = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
    act = e.join(first, "user_id").select(
        "user_id",
        F.date_trunc("week", "t0").alias("cw"),
        F.date_trunc("week", "ts").alias("wk"),
    )
    cells = act.select(
        "user_id",
        "cw",
        ((F.col("wk").cast("long") - F.col("cw").cast("long")) / 604800)
        .cast("long")
        .alias("week_offset"),
    ).distinct()
    return (
        cells.groupBy(F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"), "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


QUERIES["events_retention"] = q_events_retention
ORACLES["events_retention"] = """
WITH f AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cw FROM events GROUP BY user_id
),
cells AS (
  SELECT DISTINCT e.user_id, f.cw,
         (CAST(epoch(date_trunc('week', e.ts)) AS BIGINT)
          - CAST(epoch(f.cw) AS BIGINT)) // 604800 AS week_offset
  FROM events e JOIN f USING (user_id)
)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
       CAST(week_offset AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM cells GROUP BY cw, week_offset
"""


def q_data_quality_report(spark: SparkSession, sf: str) -> DataFrame:
    """Deequ / Great-Expectations-style data-quality constraint suite over
    the lake — the validation pass a production pipeline runs before
    trusting a day's ingest. One row per constraint with the violation
    count, row count, and pass flag:

      * uniqueness + completeness of primary keys (customer, orders);
      * referential integrity orders.o_custkey → customer (anti-join);
      * range checks (lineitem quantity/discount within contract bounds);
      * format validity (events.props parses as a JSON object with the
        expected field).

    All exact integer counts. Scale shape: each check is one scan +
    map-side-combining aggregation (the unique check counts key groups, not
    rows, via the usual distinct-then-count stack); the referential check
    is a broadcast-or-SMJ LEFT ANTI join on the key — no check is wider
    than the table it audits, and checks over different tables parallelize
    as independent jobs.
    """
    c = tbl(spark, sf, "customer")
    o = tbl(spark, sf, "orders")
    li = tbl(spark, sf, "lineitem")
    e = tbl(spark, sf, "events")

    def report(name, table_name, viol_df_count, total):
        return (
            F.lit(name).alias("constraint"),
            F.lit(table_name).alias("table_name"),
            viol_df_count.cast("long").alias("n_violations"),
            total.cast("long").alias("n_rows"),
            (viol_df_count == 0).alias("passed"),
        )

    rows = []
    # customer.c_custkey unique + non-null
    dup_keys = (
        c.groupBy("c_custkey").count().where(F.col("count") > 1)
        .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("v"))
    )
    rows.append(
        dup_keys.join(c.agg(F.count(F.lit(1)).alias("t")))
        .select(*report("pk_unique", "customer", F.col("v"), F.col("t")))
    )
    nulls = c.agg(
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias("v"),
        F.count(F.lit(1)).alias("t"),
    )
    rows.append(nulls.select(*report("pk_complete", "customer", F.col("v"), F.col("t"))))
    # referential integrity: orders.o_custkey must exist in customer
    orphans = (
        o.join(c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    rows.append(
        orphans.join(o.agg(F.count(F.lit(1)).alias("t")))
        .select(*report("fk_orders_customer", "orders", F.col("v"), F.col("t")))
    )
    # range checks
    li_checks = li.agg(
        F.sum(F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)).alias("vq"),
        F.sum(F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1).otherwise(0)).alias("vd"),
        F.count(F.lit(1)).alias("t"),
    )
    rows.append(li_checks.select(*report("quantity_in_1_50", "lineitem", F.col("vq"), F.col("t"))))
    rows.append(li_checks.select(*report("discount_in_0_05", "lineitem", F.col("vd"), F.col("t"))))
    # format validity: props parses as JSON with a numeric $.k
    ev = e.agg(
        F.sum(
            F.when(F.get_json_object("props", "$.k").isNull(), 1).otherwise(0)
        ).alias("v"),
        F.count(F.lit(1)).alias("t"),
    )
    rows.append(ev.select(*report("props_json_has_k", "events", F.col("v"), F.col("t"))))

    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


QUERIES["data_quality_report"] = q_data_quality_report
ORACLES["data_quality_report"] = """
WITH dup AS (
  SELECT coalesce(sum(n), 0) AS v FROM (
    SELECT count(*) AS n FROM customer GROUP BY c_custkey HAVING count(*) > 1) t
),
rows_c AS (SELECT count(*) AS t FROM customer),
nulls_c AS (SELECT count(*) FILTER (WHERE c_custkey IS NULL) AS v, count(*) AS t FROM customer),
orph AS (
  SELECT count(*) AS v FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
),
rows_o AS (SELECT count(*) AS t FROM orders),
li AS (
  SELECT count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS vq,
         count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.5) AS vd,
         count(*) AS t
  FROM lineitem
),
ev AS (
  -- CASE-guard the extract: DuckDB's json_extract_string ERRORS on
  -- malformed JSON (the very rows this constraint exists to catch), while
  -- Spark's get_json_object returns NULL for them
  SELECT count(*) FILTER (
           WHERE props IS NULL OR NOT json_valid(props)
              OR (CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END) IS NULL
         ) AS v,
         count(*) AS t
  FROM events
)
SELECT 'pk_unique' AS constraint, 'customer' AS table_name,
       CAST(dup.v AS BIGINT) AS n_violations, CAST(rows_c.t AS BIGINT) AS n_rows,
       dup.v = 0 AS passed
FROM dup, rows_c
UNION ALL
SELECT 'pk_complete', 'customer', CAST(v AS BIGINT), CAST(t AS BIGINT), v = 0 FROM nulls_c
UNION ALL
SELECT 'fk_orders_customer', 'orders', CAST(orph.v AS BIGINT), CAST(rows_o.t AS BIGINT), orph.v = 0
FROM orph, rows_o
UNION ALL
SELECT 'quantity_in_1_50', 'lineitem', CAST(vq AS BIGINT), CAST(t AS BIGINT), vq = 0 FROM li
UNION ALL
SELECT 'discount_in_0_05', 'lineitem', CAST(vd AS BIGINT), CAST(t AS BIGINT), vd = 0 FROM li
UNION ALL
SELECT 'props_json_has_k', 'events', CAST(v AS BIGINT), CAST(t AS BIGINT), v = 0 FROM ev
"""

# Shared candidate CTE for the two-table fuzzy-join oracles — ONE definition
# (blocking key, k bound, name mutation) so the two twins can't desync.
_FJ_CAND = """
WITH l AS (
  SELECT c_custkey AS id_l, c_nationkey, substr(c_name, 10, 3) AS s1,
         substr(c_name, 13, 3) AS s2, c_name AS name_l
  FROM customer
),
r AS (
  SELECT c_custkey + 1000000 AS id_r, c_nationkey, substr(c_name, 10, 3) AS s1,
         substr(c_name, 13, 3) AS s2,
         substr(c_name, 1, 16) || substr(c_name, 18, 1) || substr(c_name, 17, 1) AS name_r
  FROM customer
),
scored AS (
  SELECT l.id_l, r.id_r,
         CAST(least(levenshtein(l.name_l, r.name_r),
                    least(2, greatest(length(l.name_l), length(r.name_r))) + 1) AS BIGINT) AS dist
  FROM l JOIN r ON l.c_nationkey = r.c_nationkey AND l.s1 = r.s1 AND l.s2 = r.s2
),
cand AS (SELECT id_l, id_r, dist FROM scored WHERE dist <= 2)
"""

ORACLES["fuzzy_join_customers"] = f"{_FJ_CAND}\nSELECT id_l, id_r, dist FROM cand"
# mutual-best via two deterministic windows — row_number ordered by
# (dist, other id) is exactly min(struct(dist, id))
ORACLES["fuzzy_join_one_to_one"] = f"""{_FJ_CAND},
rk AS (
  SELECT id_l, id_r, dist,
         row_number() OVER (PARTITION BY id_l ORDER BY dist, id_r) AS rl,
         row_number() OVER (PARTITION BY id_r ORDER BY dist, id_l) AS rr
  FROM cand
)
SELECT id_l, id_r, dist FROM rk WHERE rl = 1 AND rr = 1
"""


def q_events_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each click annotated with the user's latest purchase
    at-or-before it (event id, time, value) — the point-in-time attribution
    shape (feature stores, trade-vs-quote, price-as-of-order) that has no
    Spark built-in. Ties at equal purchase ts break by greatest event_id,
    so the match is a total order and deterministic.

    Scale shape: ``operators/asof.py`` — both sides union-tagged, ONE hash
    shuffle on user_id, one per-key sort; the match is a running
    ``last(payload, ignorenulls)`` window, so no candidate pair is ever
    materialized (a correlated/range join would pay per-key products).
    Timestamps are emitted as epoch MICROSECONDS (exact integers; string
    renderings of fractional seconds differ across engines).
    """
    from levenshtein_spark.operators.asof import asof_join

    e = tbl(spark, sf, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    clicks = e.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    buys = e.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    out = asof_join(
        clicks, buys, ["user_id"],
        right_payload=["value"], tie_cols=["event_id"], prefix="p_",
    )
    return out.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.col("p_event_id").cast("long").alias("p_event_id"),
        F.unix_micros("p_ts").alias("p_ts_us"),
        F.col("p_value").alias("p_value"),
    )


QUERIES["events_asof_join"] = q_events_asof_join
ORACLES["events_asof_join"] = """
WITH c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
p AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT c.event_id AS eid, p.event_id AS pid, p.ts AS pts, p.value AS pval,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY p.ts DESC, p.event_id DESC) AS rn
  FROM c JOIN p ON p.user_id = c.user_id AND p.ts <= c.ts
)
SELECT c.user_id,
       CAST(c.event_id AS BIGINT) AS event_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS ts_us,
       CAST(j.pid AS BIGINT) AS p_event_id,
       CAST(epoch_us(j.pts) AS BIGINT) AS p_ts_us,
       j.pval AS p_value
FROM c LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.eid = c.event_id
"""


def q_events_window_attrib(spark: SparkSession, sf: str) -> DataFrame:
    """Windowed attribution: per purchase, the count and value-sum of the
    same user's clicks within the preceding hour — a genuine range-predicate
    join (``click.ts IN (purchase.ts - 1h, purchase.ts]``) that Spark would
    otherwise plan as a per-key product.

    Scale shape: ``operators/rangejoin.py`` — time binned into 1h buckets
    by integer division, the purchase side exploded into its two probe
    bins, one EQUI-join on (user_id, bin), exact microsecond predicate
    after; candidate fan-out is per-(user, hour) occupancy, not per-user
    row counts. Purchases with zero clicks kept via a left join of the
    aggregate back onto the purchase table.
    """
    from levenshtein_spark.operators.rangejoin import time_window_join

    e = tbl(spark, sf, "events").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    purch = e.where(F.col("event_type") == "purchase").select("user_id", "event_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    pairs = time_window_join(purch, clicks, ["user_id"], window_sec=3600)
    agg = pairs.groupBy("l_event_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("r_value").alias("s")
    )
    return (
        purch.join(agg, purch["event_id"] == agg["l_event_id"], "left")
        .select(
            "user_id",
            F.col("event_id").cast("long").alias("event_id"),
            F.unix_micros("ts").alias("ts_us"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_clicks"),
            F.round(F.coalesce(F.col("s"), F.lit(0.0)), 2).alias("sum_click_value"),
        )
    )


QUERIES["events_window_attrib"] = q_events_window_attrib
ORACLES["events_window_attrib"] = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'
),
j AS (
  SELECT p.event_id, count(*) AS n, sum(c.value) AS s
  FROM p JOIN c ON c.user_id = p.user_id
                AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
  GROUP BY p.event_id
)
SELECT p.user_id,
       CAST(p.event_id AS BIGINT) AS event_id,
       CAST(epoch_us(p.ts) AS BIGINT) AS ts_us,
       CAST(coalesce(j.n, 0) AS BIGINT) AS n_clicks,
       round(coalesce(j.s, 0), 2) AS sum_click_value
FROM p LEFT JOIN j USING (event_id)
"""


_BLOOM_M = 16384
_BLOOM_K = 3


def q_bloom_semijoin(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter semi-join reduction, certified: build a 16384-bit
    portable bloom over urgent orders' keys, probe every lineitem row, and
    report the pass/true-match/false-positive census plus the realized
    false-positive rate. Equality of ``n_pass_bloom`` across engines
    certifies the whole BITMAP (any bit difference flips some probe).

    Scale shape (``operators/bloom.py``): the build is one bit_or
    aggregate collecting <= m/64 driver scalars; the probe is literal-array
    expression work inside whole-stage codegen — the fact table sees NO
    join and NO shuffle before the filter, which is the point: at 100 TB
    the bloom pre-filter cuts the fact side's shuffle to passing rows only,
    while the exact join downstream keeps correctness independent of fp
    residue. The exact-match flag here joins a broadcast dim purely to
    MEASURE that residue.
    """
    from levenshtein_spark.operators.bloom import bloom_probe, build_bloom

    dim = (
        tbl(spark, sf, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("key"))
    )
    bitmap = build_bloom(dim, "key", _BLOOM_M, _BLOOM_K)
    li = tbl(spark, sf, "lineitem").select("l_orderkey")
    flags = li.join(
        F.broadcast(dim.distinct().withColumn("_m", F.lit(1))),
        li["l_orderkey"] == F.col("key"),
        "left",
    ).select(
        bloom_probe(bitmap, F.col("l_orderkey"), _BLOOM_K).alias("pass"),
        F.col("_m").isNotNull().alias("matched"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).alias("n_pass_bloom"),
        F.sum(F.when(F.col("matched"), 1).otherwise(0)).alias("n_match"),
        F.sum(F.when(F.col("pass") & ~F.col("matched"), 1).otherwise(0)).alias("n_false_pos"),
    )
    return agg.select(
        F.col("n_probe").cast("long").alias("n_probe"),
        F.col("n_pass_bloom").cast("long").alias("n_pass_bloom"),
        F.col("n_match").cast("long").alias("n_match"),
        F.col("n_false_pos").cast("long").alias("n_false_pos"),
        F.when(
            (F.col("n_probe") - F.col("n_match")) > 0,
            F.round(
                F.col("n_false_pos").cast("double")
                / (F.col("n_probe") - F.col("n_match")).cast("double"),
                6,
            ),
        ).alias("fp_rate"),
    )


def _bloom_pos_sql(seed: int, key_expr: str) -> str:
    return (
        f"(('0x' || substr(md5(concat('{seed}', chr(31), {key_expr})), 1, 15))::BIGINT)"
        f" % {_BLOOM_M}"
    )


QUERIES["bloom_semijoin"] = q_bloom_semijoin
ORACLES["bloom_semijoin"] = f"""
WITH dim AS (
  SELECT o_orderkey AS key FROM orders WHERE o_orderpriority = '1-URGENT'
),
pos AS (
  SELECT DISTINCT {_bloom_pos_sql(1, "CAST(key AS VARCHAR)")} AS p FROM dim
  UNION SELECT {_bloom_pos_sql(2, "CAST(key AS VARCHAR)")} FROM dim
  UNION SELECT {_bloom_pos_sql(3, "CAST(key AS VARCHAR)")} FROM dim
),
pr AS (
  SELECT l_orderkey,
         {_bloom_pos_sql(1, "CAST(l_orderkey AS VARCHAR)")} AS q1,
         {_bloom_pos_sql(2, "CAST(l_orderkey AS VARCHAR)")} AS q2,
         {_bloom_pos_sql(3, "CAST(l_orderkey AS VARCHAR)")} AS q3
  FROM lineitem
),
flags AS (
  SELECT (q1 IN (SELECT p FROM pos)
          AND q2 IN (SELECT p FROM pos)
          AND q3 IN (SELECT p FROM pos)) AS pass,
         l_orderkey IN (SELECT key FROM dim) AS matched
  FROM pr
)
SELECT CAST(count(*) AS BIGINT) AS n_probe,
       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
       CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       CAST(sum(CASE WHEN pass AND NOT matched THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CASE WHEN count(*) - sum(CASE WHEN matched THEN 1 ELSE 0 END) > 0 THEN
         round(CAST(sum(CASE WHEN pass AND NOT matched THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) - sum(CASE WHEN matched THEN 1 ELSE 0 END) AS DOUBLE), 6)
       END AS fp_rate
FROM flags
"""


# ---------------------------------------------------------------------------
# Exact set-similarity self-join (AllPairs prefix filter)
# ---------------------------------------------------------------------------
_SJ_NUM, _SJ_DEN = 3, 5  # Jaccard >= 0.6 as a rational (integer verify)


def q_setjoin_jaccard_docs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT word-bigram Jaccard >= {num}/{den} self-join over documents via
    AllPairs prefix-filter blocking (operators/setjoin.py) — the lossless,
    deterministic complement to the MinHash recall stage: ``dedup_minhash``
    trades recall for speed over the SAME bigram shingles; this operator
    returns EVERY qualifying pair. (Bigrams, not unigrams: on this small-
    vocabulary corpus unigram sets are so dense that 57% of ALL pairs pass
    t=0.6 — a join whose result is near-all-pairs measures nothing. The
    bigram result is the 25 true near-dup pairs.) The threshold compares by
    integer cross-multiplication (no float threshold), so the twin is the
    brute-force all-pairs join — the oracle certifies the prefix filter's
    losslessness end to end, the same way the brute-force twins certify
    dedup_prefix and dedup_simhash_pairs.
    """
    from levenshtein_spark.functions.text import word_bigrams
    from levenshtein_spark.operators.setjoin import set_similarity_self_join

    d = tbl(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), "text"
    )
    out = set_similarity_self_join(
        d, word_bigrams(F.col("text")), _SJ_NUM, _SJ_DEN,
        hot_threshold=500,
    )
    return out.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        "inter", "uni", "jaccard",
    )


QUERIES["setjoin_jaccard_docs"] = q_setjoin_jaccard_docs

from levenshtein_spark.driver_queries.dedup import _DD_BIGRAMS as _SJ_GRAMS  # noqa: E402

ORACLES["setjoin_jaccard_docs"] = f"""
WITH toks AS (
  SELECT doc_id, list_distinct({_SJ_GRAMS}) AS g
  FROM documents
  WHERE len(list_distinct({_SJ_GRAMS})) > 0
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS inter,
       CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS BIGINT) AS uni,
       round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
             CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS DOUBLE), 6)
         AS jaccard
FROM toks a JOIN toks b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.g, b.g)) * {_SJ_DEN}
      >= {_SJ_NUM} * (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
"""


_CT_NUM, _CT_DEN = 9, 10  # containment >= 0.9


def q_setjoin_containment_docs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT ordered bigram-containment join over documents
    (operators/setjoin.py:set_containment_join): every (inner, outer) pair
    where >= {num}/{den} of the inner document's bigram shingles appear in
    the outer document — the position-independent truncation/quotation
    detector (dedup_prefix's char-prefix rule only sees PREFIX containment;
    this sees mid-document inclusion and reordering). Brute-force twin
    certifies the asymmetric prefix filter's losslessness.
    """
    from levenshtein_spark.functions.text import word_bigrams
    from levenshtein_spark.operators.setjoin import set_containment_join

    d = tbl(spark, sf, "documents").select(F.col("doc_id").alias("id"), "text")
    out = set_containment_join(
        d, word_bigrams(F.col("text")), _CT_NUM, _CT_DEN,
        hot_threshold=500,
    )
    return out.select(
        F.col("id_inner").alias("doc_inner"),
        F.col("id_outer").alias("doc_outer"),
        "inter", "n_inner", "containment",
    )


QUERIES["setjoin_containment_docs"] = q_setjoin_containment_docs

ORACLES["setjoin_containment_docs"] = f"""
WITH toks AS (
  SELECT doc_id, list_distinct({_SJ_GRAMS}) AS g
  FROM documents
  WHERE len(list_distinct({_SJ_GRAMS})) > 0
)
SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
       CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS inter,
       CAST(len(a.g) AS BIGINT) AS n_inner,
       round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
             CAST(len(a.g) AS DOUBLE), 6) AS containment
FROM toks a JOIN toks b ON a.doc_id <> b.doc_id
WHERE len(list_intersect(a.g, b.g)) * {_CT_DEN} >= {_CT_NUM} * len(a.g)
"""


_MB_MIN_SUPPORT = 3


def q_basket_part_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket co-occurrence (the A-Priori/FP-growth first pass): part
    pairs ordered together in >= {s} distinct orders, with their support
    counts — the "frequently bought together" primitive. All integer
    counts; the pair space is generated per order (baskets are small — the
    per-order self-join fans out C(items, 2), never the catalog square) and
    aggregated map-side by (part_a, part_b).

    Scale shape: one shuffle on orderkey to form baskets (already
    co-located if lineitem is bucketed by orderkey — the warehouse layout),
    one map-side-combining count per pair. A hot product pair is just a
    large counter, never a large row group.
    """
    li = tbl(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pairs = a.join(b, "ok").where(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= _MB_MIN_SUPPORT)
    )


QUERIES["basket_part_pairs"] = q_basket_part_pairs

ORACLES["basket_part_pairs"] = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS support
FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= {_MB_MIN_SUPPORT}
"""
