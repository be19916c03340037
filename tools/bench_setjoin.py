"""AllPairs set-similarity join scale dress rehearsal.

Runs the UNCHANGED exact bigram-Jaccard self-join
(operators/setjoin.py:set_similarity_self_join, t = 3/5 — the
setjoin_jaccard_docs configuration) over the sf0.1 documents corpus at 1×
and R× (replicas carry a leading-token swap, so each clone family is R
mutually-near-dup documents — the adversarial case: clone families share
their RARE prefix tokens, concentrating exactly the keys the prefix filter
keeps), and records the two numbers an exact set-sim join is judged by at
scale:

* **candidate selectivity** — distinct verified candidates as a fraction of
  N²/2: the prefix filter must keep this falling (or flat) as N grows, or
  the verify stage becomes the corpus square;
* **losslessness at scale** — mutated replicas of one source are IDENTICAL
  to each other (token-set equal ⇒ Jaccard 1), so the result must contain
  every within-family replica-replica pair: n_base · C(R-1, 2) pairs,
  counted exactly.

Usage: python tools/bench_setjoin.py [replicas]   (default 10)
Writes/merges BENCH/setjoin_scale.json (keyed by replica count).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_T_NUM, _T_DEN = 3, 5  # setjoin_jaccard_docs threshold


def _corpus(spark, reps: int):
    base = spark.read.parquet(f"{_SF}/documents.parquet").select("doc_id", "text")
    offset = 1_000_000
    mutated = F.regexp_replace("text", r"^(\S+)(\s+)(\S+)", r"$3$2$1")
    corpus = base
    for j in range(1, reps):
        corpus = corpus.unionByName(
            base.select((F.col("doc_id") + offset * j).alias("doc_id"), mutated.alias("text"))
        )
    return base, corpus


def _run(spark, corpus) -> dict:
    from levenshtein_spark.functions.text import word_bigrams
    from levenshtein_spark.operators.pairs import (
        candidate_pairs,
        candidate_pairs_annotated,
    )
    from levenshtein_spark.operators.setjoin import (
        allpairs_prefix_keys,
        ppjoin_predicate,
        set_similarity_self_join,
    )

    d = corpus.select(F.col("doc_id").alias("id"), "text")
    n = d.count()
    slim = d.select(
        "id", F.array_distinct(word_bigrams(F.col("text"))).alias("toks")
    ).where(F.size("toks") > 0)
    keys = allpairs_prefix_keys(slim, _T_NUM, _T_DEN)
    # census 1: bare prefix-filter candidates (AllPairs)
    n_prefix = candidate_pairs(
        keys.select("block_key", "id"), hot_threshold=500
    ).count()
    # census 2: + PPJoin positional & length filters — the IMPORTED operator
    # predicate, so this number is exactly what set_similarity_self_join runs
    n_cand = candidate_pairs_annotated(
        keys, ppjoin_predicate(_T_NUM, _T_DEN), hot_threshold=500
    ).count()
    t0 = time.time()
    out = set_similarity_self_join(
        d, word_bigrams(F.col("text")), _T_NUM, _T_DEN,
        hot_threshold=500,
    )
    n_pairs = out.count()
    wall = time.time() - t0
    brute = n * (n - 1) / 2
    return {
        "n_docs": n,
        "wall_s": round(wall, 2),
        "result_pairs": n_pairs,
        "prefix_candidates": n_prefix,
        "candidates": n_cand,
        "ppjoin_cut": round(1 - n_cand / n_prefix, 4) if n_prefix else 0.0,
        "candidate_fraction_of_n2": round(n_cand / brute, 8) if brute else 0.0,
        "pairs_per_sec": round(n_cand / wall) if wall > 0 else None,
    }


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    from levenshtein_spark.session import get_spark, warm_python_workers

    spark = get_spark("dress_setjoin")
    warm_python_workers(spark)

    base, corpus = _corpus(spark, reps)
    n_base = base.count()

    one = _run(spark, base)
    big = _run(spark, corpus)

    # losslessness at scale: replicas 1..R-1 of each source are identical
    # token sets (Jaccard 1) — every within-family replica pair must appear
    from levenshtein_spark.functions.text import word_bigrams
    from levenshtein_spark.operators.setjoin import set_similarity_self_join

    out = set_similarity_self_join(
        corpus.select(F.col("doc_id").alias("id"), "text"),
        word_bigrams(F.col("text")),
        _T_NUM,
        _T_DEN,
        hot_threshold=500,
    )
    rep_pairs = out.where(
        (F.col("id_a") >= 1_000_000)
        & (F.col("id_b") >= 1_000_000)
        & (F.pmod("id_a", F.lit(1_000_000)) == F.pmod("id_b", F.lit(1_000_000)))
        & (F.col("jaccard") >= 0.999999)
    ).count()
    expected = n_base * (reps - 1) * (reps - 2) // 2

    rec = {
        "replicas": reps,
        "threshold": f"{_T_NUM}/{_T_DEN}",
        "sf_dir": _SF,
        "one_x": one,
        "big_x": big,
        "scale": {
            "docs": round(big["n_docs"] / one["n_docs"], 2),
            "wall": round(big["wall_s"] / one["wall_s"], 2) if one["wall_s"] else None,
            "candidate_fraction_ratio": round(
                big["candidate_fraction_of_n2"] / one["candidate_fraction_of_n2"], 3
            )
            if one["candidate_fraction_of_n2"]
            else None,
        },
        "planted_identical_replica_pairs": {
            "expected": expected,
            "found": rep_pairs,
            "lossless": rep_pairs == expected,
        },
    }

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH", "setjoin_scale.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[str(reps)] = rec
    with open(path, "w") as f:
        json.dump(data, f, indent=2)
    print(json.dumps(rec, indent=2))


if __name__ == "__main__":
    main()
