"""Candidate-count evidence for the Ed-Join prefix filter.

    python tools/bench_edjoin.py [--rows 2000] [--k 2] [--q 3]

Builds a UNIFORM-LENGTH synthetic corpus (the adversarial case for length
banding: every row lands in one giant band, so length-based candidate
generation degenerates to the full O(N²) cross product) with planted
near-duplicates, then reports the candidate-pair count of

* length banding (one band → N·(N-1)/2),
* the Ed-Join rarest-(k·q+1)-gram prefix filter (operators/simjoin.py),

plus the verified true-match count — i.e. how much of the quadratic
candidate space the content-based filter removes with zero recall loss.
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument("--k", type=int, default=2)
    ap.add_argument("--q", type=int, default=3)
    ap.add_argument("--word-len", type=int, default=64)
    args = ap.parse_args()

    import numpy as np
    import pyspark.sql.functions as F

    from levenshtein_spark.operators.pairs import candidate_pairs
    from levenshtein_spark.operators.simjoin import (
        _positional_qgrams,
        edit_distance_self_join,
    )
    from levenshtein_spark.session import get_spark
    from pyspark.sql import Window

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
    from gen import apply_edits, random_word  # deterministic letter-frequency generator

    rng = np.random.default_rng(42)
    rows = []
    rid = 0
    n_bases = args.rows // 2
    for _ in range(n_bases):
        base = random_word(rng, args.word_len)
        rows.append((rid, base)); rid += 1
        # half the bases get a planted near-dup within k edits, half a far
        # string of the SAME length (uniform-length corpus by construction)
        if rng.integers(2) == 0:
            rows.append((rid, apply_edits(rng, base, args.k, "substitute")))
        else:
            rows.append((rid, random_word(rng, args.word_len)))
        rid += 1

    spark = get_spark("bench_edjoin")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.createDataFrame(rows, "id long, text string").persist()
    n = df.count()

    # length banding on a uniform corpus: one band -> full cross product
    length_band_candidates = n * (n - 1) // 2

    # Ed-Join candidates (the operator's internals, pre-verification),
    # INCLUDING its short-string block — for word_len < k*q + q the prefix
    # filter is vacuous and the operator routes rows there, so omitting it
    # would overstate the reduction at small --word-len
    damage = args.q
    prefix_len = args.k * damage + 1
    short_len = args.k * damage + args.q
    grams = df.select("id", F.explode(_positional_qgrams(F.col("text"), args.q)).alias("g"))
    census = grams.groupBy("g").agg(F.count(F.lit(1)).alias("f"))
    ranked = grams.join(census, "g").withColumn(
        "r", F.row_number().over(Window.partitionBy("id").orderBy("f", "g"))
    )
    keys = ranked.where(F.col("r") <= prefix_len).select(
        F.concat(F.lit("eg|"), F.col("g")).alias("block_key"), "id"
    )
    short_keys = df.where(F.length("text") < short_len).select(
        F.lit("eg|__short").alias("block_key"), "id"
    )
    edjoin_candidates = candidate_pairs(keys.unionByName(short_keys), 2000).count()

    true_matches = edit_distance_self_join(df, "text", k=args.k, q=args.q).count()

    print(json.dumps({
        "rows": n,
        "word_len": args.word_len,
        "k": args.k,
        "q": args.q,
        "length_band_candidates": length_band_candidates,
        "edjoin_candidates": edjoin_candidates,
        "candidate_reduction": round(length_band_candidates / max(edjoin_candidates, 1), 1),
        "true_matches": true_matches,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
