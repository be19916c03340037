"""Scale dress rehearsal: the flagship ER pipeline at 10× the bench corpus.

The per-round bench runs at sf0.1 (15k customers). This tool synthesizes a
deterministic customer table N× that size (same shape as the testdata:
``Customer#%09d`` names, md5-derived nation/acctbal/segment — no external
data) and runs the UNCHANGED pipeline (pigeonhole blocking → salted slim
pairs → sha short-circuit ∪ Arrow-batched bounded-OSA scoring → star-
contraction clustering) end-to-end, recording stage row counts, wall time,
and scored-pairs/s. The point is measured evidence for the 100-TB design
claims: candidate fan-out grows with block sizes (not N²), scoring stays
Arrow-batched, and the closure converges in O(log n) rounds at 10× without
any parameter change.

Usage: python tools/bench_dress.py [n_customers]   (default 150_000)
Writes BENCH/dress_rehearsal.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    out_dir = f"/tmp/levenshtein_spark_dress_{n}"

    from levenshtein_spark.session import get_spark, warm_python_workers

    spark = get_spark("dress_rehearsal")
    warm_python_workers(spark)

    # deterministic synthetic customers, same shape as testdata/sf*/customer
    seg_names = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    ids = spark.range(1, n + 1).select(F.col("id").alias("c_custkey"))
    h = F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 15), 16, 10).cast("long")
    cust = ids.select(
        "c_custkey",
        F.format_string("Customer#%09d", F.col("c_custkey")).alias("c_name"),
        F.pmod(h, F.lit(25)).cast("int").alias("c_nationkey"),
        ((F.pmod(h, F.lit(1_099_999)) - F.lit(99_999)) / 100.0).alias("c_acctbal"),
        F.element_at(
            F.array(*[F.lit(s) for s in seg_names]), (F.pmod(h, F.lit(5)) + 1).cast("int")
        ).alias("c_mktsegment"),
    )
    cust.write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    from levenshtein_spark.driver_queries.linkage import (
        _customer_blocks,
        _customer_scored,
        flagship_clusters,
    )
    from levenshtein_spark.operators.pairs import candidate_pairs

    record: dict = {"n_customers": n}

    t0 = time.monotonic()
    blocks = _customer_blocks(spark, out_dir).persist()
    record["n_block_rows"] = blocks.count()
    record["t_blocks_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    pairs = candidate_pairs(blocks, hot_threshold=500).persist()
    record["n_candidate_pairs"] = pairs.count()
    record["t_pairs_s"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    scored = _customer_scored(spark, out_dir)
    record["n_scored"] = scored.count()
    record["t_score_s"] = round(time.monotonic() - t0, 2)
    record["scored_pairs_per_s"] = round(record["n_scored"] / max(record["t_score_s"], 1e-9))

    t0 = time.monotonic()
    clusters = flagship_clusters(spark, out_dir)
    record["n_clusters"] = clusters.count()
    record["t_full_pipeline_s"] = round(time.monotonic() - t0, 2)

    # fan-out sanity: candidate pairs per record must stay bounded (the
    # pigeonhole + salting claim), nothing close to N^2/2
    record["pairs_per_record"] = round(record["n_candidate_pairs"] / n, 2)
    record["quadratic_fraction"] = record["n_candidate_pairs"] / (n * (n - 1) / 2)

    os.makedirs("BENCH", exist_ok=True)
    path = "BENCH/dress_rehearsal.json"
    merged: dict = {}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        # legacy single-record layout migrates into the keyed one
        merged = prev if all(k.startswith("n=") for k in prev) else {
            f"n={prev['n_customers']}": prev
        }
    merged[f"n={n}"] = record
    with open(path, "w") as f:
        json.dump(merged, f, indent=2)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
