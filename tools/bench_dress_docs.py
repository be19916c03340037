"""Documents-side scale dress rehearsal: MinHash near-dup dedup at 10× with
PLANTED ground truth.

Builds a corpus of R mutated replicas of every sf0.1 document (each replica
gets a doc_id offset and one two-token swap early in the text — a high-
Jaccard near-dup of its source), then runs the UNCHANGED dedup_minhash path
(flat band keys → hot-block-salted slim pairs → exact bigram-Jaccard
verify) over the whole thing. Because the clone groups are planted, the run
measures both THROUGHPUT at 10× and RECALL of the known pairs — the two
numbers a production near-dup pass is judged by. A mass-replicated corpus
is also the adversarial case for LSH banding (every clone family shares
band keys ⇒ hot blocks), so this exercises the salting path for real.

Usage: python tools/bench_dress_docs.py [replicas]   (default 10)
Writes/merges BENCH/dress_rehearsal_docs.json (keyed by replica count).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_JACCARD_MIN = 0.5  # same verify threshold as dedup_minhash


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 10

    from levenshtein_spark.functions.hashing import minhash_band_table
    from levenshtein_spark.functions.text import word_bigrams
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
    from levenshtein_spark.session import get_spark, warm_python_workers

    spark = get_spark("dress_docs")
    warm_python_workers(spark)

    base = spark.read.parquet(f"{_SF}/documents.parquet").select("doc_id", "text")
    n_base = base.count()
    offset = 1_000_000
    # replica j: ids offset*j + doc_id; text with tokens 1 and 2 swapped by a
    # regex capture (a near-identity edit: bigram-set Jaccard stays ~0.9+)
    mutated_text = F.regexp_replace("text", r"^(\S+)(\s+)(\S+)", r"$3$2$1")
    parts = [base]
    for j in range(1, reps):
        parts.append(
            base.select(
                (F.col("doc_id") + offset * j).alias("doc_id"),
                mutated_text.alias("text"),
            )
        )
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    corpus = corpus.persist()
    n_total = corpus.count()

    record: dict = {"replicas": reps, "n_base": n_base, "n_docs": n_total}

    t0 = time.monotonic()
    grams_col = word_bigrams(F.col("text"))
    blocks = (
        minhash_band_table(corpus, "doc_id", grams_col)
        .select(F.col("band_key").alias("block_key"), "id")
        .persist()
    )
    record["n_band_rows"] = blocks.count()
    record["t_bands_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys").persist()
    record["n_candidate_pairs"] = pairs.count()
    record["t_pairs_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    grams = corpus.select(
        F.col("doc_id").alias("id"), F.array_distinct(word_bigrams(F.col("text"))).alias("g")
    )
    fat = attach_pair_payload(pairs, grams, ["g"])
    verified = fat.select(
        "id_a",
        "id_b",
        (
            F.size(F.array_intersect("g_a", "g_b")).cast("double")
            / F.size(F.array_union("g_a", "g_b"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= _JACCARD_MIN)
    record["n_verified_pairs"] = verified.count()
    record["t_verify_s"] = round(time.monotonic() - t0, 2)
    # throughput of the verify STAGE = candidates it processes per second
    # (the verified-pair yield is n_verified_pairs, a property of the data)
    record["candidates_verified_per_s"] = round(
        record["n_candidate_pairs"] / max(record["t_verify_s"], 1e-9)
    )

    # planted recall: every (base b, replica j>0) pair (b, b + j*offset) is a
    # known near-dup; count how many survive banding + verification
    planted = verified.where(
        (F.col("id_b") >= offset) & (F.col("id_b") % offset == F.col("id_a"))
    ).count()
    record["n_planted_expected"] = n_base * (reps - 1)
    record["planted_recall"] = round(planted / record["n_planted_expected"], 4)

    record["pairs_per_doc"] = round(record["n_candidate_pairs"] / n_total, 2)
    record["quadratic_fraction"] = record["n_candidate_pairs"] / (
        n_total * (n_total - 1) / 2
    )

    os.makedirs("BENCH", exist_ok=True)
    path = "BENCH/dress_rehearsal_docs.json"
    merged: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    merged[f"replicas={reps}"] = record
    with open(path, "w") as f:
        json.dump(merged, f, indent=2)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
