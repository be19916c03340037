"""Phonetic-key blocking PAIRS — "block on SOUNDEX, verify with edit distance".

Completes the phonetic ER family: ``phonetic_blocks`` (er_eval.py) is the
blocking census; this module adds the candidate-pair stage the census
implies — the classic MySQL idiom where the reference's UDFs are composed
with the builtin ``SOUNDEX()`` for fuzzy name matching (the WHERE-filter
query shape of /root/reference/doc/Usage.md:101-147 with a phonetic
pre-filter). Spark side uses the JVM builtin ``F.soundex`` (pure codegen);
the oracle twin is the generated DuckDB SQL of functions/phonetic.py
(``dd_soundex``), pinned bit-for-bit in tests/test_phonetic.py.

Substrate: first token of ``part.p_name`` (real English color words — the
TPC-H string column where phonetics is meaningful).

Scale shape: the phonetic vocabulary is small and fixed (~60 codes over the
92 TPC-H colors), so at corpus scale EVERY block is hot — pairs route
through ``candidate_pairs``'s lossless triangle-salted join, the same skew
machinery as the linkage pipeline, and verification re-attaches tokens
per-id from the slim (id, tok) projection rather than carrying payload
through the pair shuffle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.functions.distance import bounded_edit_dist
from levenshtein_spark.functions.phonetic import dd_soundex
from levenshtein_spark.operators.pairs import candidate_pairs
from levenshtein_spark.session import scoped_persist

_K = 3  # verify cap: same-code near-names (dist<=3) pass, the rest clamp to 4


def _keyed_parts(spark: SparkSession, sf: str) -> DataFrame:
    """(id, tok, code): first p_name token + its soundex, all JVM-side."""
    return tbl(spark, sf, "part").select(
        F.col("p_partkey").cast("long").alias("id"),
        F.expr("split_part(p_name, ' ', 1)").alias("tok"),
    ).withColumn("code", F.soundex("tok"))


def q_phonetic_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Soundex-blocked candidate pairs verified with the bounded kernel.

    (id_a < id_b, dist): parts whose first name-tokens share a soundex
    code, dist the reference-convention capped Levenshtein (k_eff + 1 when
    exceeded, src/prealgorithm.h:17-86) — a consumer filters matches with
    ``dist <= k``.
    """
    keyed = _keyed_parts(spark, sf).transform(scoped_persist)
    blocks = keyed.select(F.col("code").alias("block_key"), "id")
    pairs = candidate_pairs(blocks, hot_threshold=200).drop("n_keys")
    a = keyed.select(F.col("id").alias("id_a"), F.col("tok").alias("tok_a"))
    b = keyed.select(F.col("id").alias("id_b"), F.col("tok").alias("tok_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            bounded_edit_dist("tok_a", "tok_b", _K).cast("long").alias("dist"),
        )
    )


QUERIES = {"phonetic_pairs": q_phonetic_pairs}

ORACLES = {
    "phonetic_pairs": f"""
WITH keyed AS (
  SELECT p_partkey AS id,
         split_part(p_name, ' ', 1) AS tok,
         {dd_soundex("split_part(p_name, ' ', 1)")} AS code
  FROM part
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(least(levenshtein(a.tok, b.tok),
                  least({_K}, greatest(length(a.tok), length(b.tok))) + 1)
            AS BIGINT) AS dist
FROM keyed a
JOIN keyed b ON a.code = b.code AND a.id < b.id
""",
}
