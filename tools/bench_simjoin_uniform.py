"""Similarity-join blocking census on the REAL uniform-length corpus.

Evidence for the round-3 rebuild of ``similarity_self_join`` (VERDICT r02
#2): `similarity_join_docs` runs over fixed-width 32-char document
prefixes — a corpus where EVERY string has the same byte length, so the
r02 log-length banding put the whole table into one band and the blocked
self-join degenerated to all-pairs. This tool measures, on the actual
sf documents table (same parameters as the driver query: p=0.7, q=2,
Levenshtein damage D=2):

* ``band_candidate_mass``  — Σ_key C(n_key, 2) for pure length banding
  (the r02 candidate mass; counted analytically from the block census so
  we never materialize the quadratic join);
* ``gram_candidate_mass``  — the same census for the round-3 band ∪
  rarest-q-gram blocking;
* ``distinct_candidates``  — actual deduped pair count through the salted
  slim-pair operator (what the verify stage really scores);
* ``matches`` + wall time for the full exact join.

Usage: python tools/bench_simjoin_uniform.py [sf_dir] [--replicate R]
``--replicate`` clones the corpus R× with a 1-char tail mutation per
replica (deeper clone families, same uniform length) for a scale point.

Writes BENCH/simjoin_uniform.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

_P = 0.7
_ONE_MINUS_P = 1.0 - _P
_PLEN = 32
_Q = 2


def census(blocks) -> int:
    """Σ_key C(n, 2) — the candidate mass a blocked self-join on these keys
    generates, without running the join."""
    row = (
        blocks.groupBy("block_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("m"))
        .collect()[0]
    )
    return int(row["m"] or 0)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    replicate = 1
    if "--replicate" in args:
        i = args.index("--replicate")
        replicate = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    from levenshtein_spark.functions.distance import bounded_edit_dist
    from levenshtein_spark.operators.pairs import candidate_pairs
    from levenshtein_spark.operators.simjoin import (
        similarity_candidate_blocks,
        similarity_self_join,
    )
    from levenshtein_spark.session import get_spark, warm_python_workers

    spark = get_spark("bench_simjoin_uniform")
    warm_python_workers(spark)

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").alias("id"), F.substring("text", 1, _PLEN).alias("ptext")
    )
    if replicate > 1:
        d = d.select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("r")
        ).select(
            (F.col("id") * replicate + F.col("r")).alias("id"),
            # 1-char tail mutation per replica keeps length uniform and
            # similarity to the source >= (PLEN-1)/PLEN
            F.when(F.col("r") == 0, F.col("ptext"))
            .otherwise(
                F.concat(
                    F.substring("ptext", 1, _PLEN - 1),
                    F.substring(F.md5(F.col("r").cast("string")), 1, 1),
                )
            )
            .alias("ptext"),
        )
    d = d.persist()
    n_rows = d.count()

    # r02 candidate stage: pure log-length banding (uniform length -> one band)
    band_blocks = similarity_candidate_blocks(
        d, "ptext", _P, q=_Q, transpositions=False, family="bands"
    )
    band_mass = census(band_blocks)

    # round-3 gram family, forced (band ∪ rarest-q-gram prefix)
    gram_blocks = similarity_candidate_blocks(
        d, "ptext", _P, q=_Q, transpositions=False, family="grams"
    ).persist()
    gram_mass = census(gram_blocks)
    gram_blocks.unpersist()

    # what auto mode (the shipped default) routes through
    auto_blocks = similarity_candidate_blocks(
        d, "ptext", _P, q=_Q, transpositions=False, family="auto"
    ).persist()
    auto_mass = census(auto_blocks)
    auto_family = "bands" if auto_mass == band_mass else "grams"
    t0 = time.perf_counter()
    distinct = candidate_pairs(auto_blocks, hot_threshold=500).count()
    t_pairs = time.perf_counter() - t0

    def lev_sim(a, b):
        m = F.greatest(F.octet_length(a), F.octet_length(b))
        k = F.floor(F.lit(_ONE_MINUS_P) * m).cast("long")
        dist = bounded_edit_dist(a, b, k)
        return F.when(m == 0, F.lit(1.0)).otherwise(
            F.greatest(F.lit(0.0), F.lit(1.0) - dist / m)
        )

    t0 = time.perf_counter()
    matches = similarity_self_join(
        d, "ptext", _P, sim_fn=lev_sim, q=_Q, transpositions=False,
        hot_threshold=500,
    ).count()
    t_join = time.perf_counter() - t0

    out = {
        "sf_dir": sf_dir,
        "replicate": replicate,
        "n_rows": n_rows,
        "p": _P,
        "q": _Q,
        "prefix_chars": _PLEN,
        "all_pairs": n_rows * (n_rows - 1) // 2,
        "band_candidate_mass": band_mass,
        "gram_candidate_mass": gram_mass,
        "auto_family": auto_family,
        "auto_candidate_mass": auto_mass,
        "distinct_candidates": distinct,
        "candidate_reduction_vs_banding": round(band_mass / max(distinct, 1), 1),
        "matches": matches,
        "wall_pairs_s": round(t_pairs, 2),
        "wall_full_join_s": round(t_join, 2),
    }
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    path = "BENCH/simjoin_uniform.json"
    recs = []
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
            recs = prev if isinstance(prev, list) else [prev]
    recs.append(out)
    with open(path, "w") as fh:
        json.dump(recs, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
