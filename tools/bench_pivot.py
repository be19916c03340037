"""Scale evidence for the iterative graph-clustering family
(operators/clustering.py): KwikCluster pivot AND merge-center.

Synthetic deterministic random graphs at three sizes (10x apart each),
generated distributed (no driver-side edge list): nodes 1..N, E = 3N edges
with xxhash64-derived endpoints — a supercritical sparse regime (giant
component plus fringe), the adversarial case for round counts.

Per size and algorithm it reports wall, the iteration counts, and the
per-round decay — the claims under test:

* pivot:  MIS rounds ~ O(log N) (Blelloch/Fineman/Shun for greedy-MIS
  random-order rounds), so 10x the graph should add ~constant rounds and
  wall should track edge count, not N^2. Invariant check (members adjacent
  to their pivot; pivots an independent set) runs on a small config.
* merge-center: the center-graph closure runs on a CONTRACTION of the
  match graph (centers only, merged when adjacent or sharing a neighbor),
  so its star-contraction rounds should stay flat with N exactly like the
  pivot rounds and the main closure loop — this is the round-count table
  VERDICT r04 asked for (the one iterative operator that lacked it).

Writes BENCH/pivot_scale.json (pivot track, same shape the r04 artifact
established) and BENCH/merge_center_scale.json (merge-center track).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

import pyspark.sql.functions as F

from levenshtein_spark.operators.clustering import merge_center_labels, pivot_labels
from levenshtein_spark.session import get_spark, release_caches

SIZES = [100_000, 1_000_000, 10_000_000]


def graph(spark, n: int, seed: int):
    ids = spark.range(1, n + 1).select(F.col("id").cast("long"))
    e = (
        spark.range(3 * n)
        .select(
            (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n)) + 1).alias("src"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(n)) + 1).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    return ids, e


def run_pivot(spark, n: int, seed: int = 7) -> dict:
    ids, e = graph(spark, n, seed)
    stats: dict = {}
    t0 = time.perf_counter()
    labels = pivot_labels(ids, e, stats=stats)
    n_labeled, n_clusters = labels.agg(
        F.count(F.lit(1)), F.countDistinct("cluster_id")
    ).collect()[0]
    wall = time.perf_counter() - t0
    release_caches()
    return {
        "n_nodes": n,
        "n_edges_drawn": 3 * n,
        "wall_s": round(wall, 2),
        "rounds": stats["rounds"],
        "active_per_round": stats["active_per_round"],
        "n_labeled": int(n_labeled),
        "n_clusters": int(n_clusters),
    }


def run_merge_center(spark, n: int, seed: int = 7) -> dict:
    ids, e = graph(spark, n, seed)
    stats: dict = {}
    t0 = time.perf_counter()
    labels = merge_center_labels(ids, e, stats=stats)
    n_labeled, n_clusters = labels.agg(
        F.count(F.lit(1)), F.countDistinct("cluster_id")
    ).collect()[0]
    wall = time.perf_counter() - t0
    release_caches()
    return {
        "n_nodes": n,
        "n_edges_drawn": 3 * n,
        "wall_s": round(wall, 2),
        "n_centers": stats["n_centers"],
        "n_merge_edges": stats["n_merge_edges"],
        "closure_rounds": stats["closure"].get("rounds", 0),
        "closure_edges_per_round": stats["closure"].get("edges_per_round", []),
        "n_labeled": int(n_labeled),
        "n_clusters": int(n_clusters),
    }


def check_invariants(spark, n: int = 20000, seed: int = 7) -> dict:
    ids, e = graph(spark, n, seed)
    labels = pivot_labels(ids, e)
    sym = e.select("src", "dst").unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    pivots = labels.where(F.col("id") == F.col("cluster_id")).select("id")
    # members adjacent to their pivot
    members = labels.where(F.col("id") != F.col("cluster_id"))
    bad_member = members.join(
        sym,
        (members["id"] == sym["src"]) & (members["cluster_id"] == sym["dst"]),
        "left_anti",
    ).count()
    # pivots form an independent set
    bad_pivot = (
        sym.join(pivots.withColumnRenamed("id", "src"), "src")
        .join(pivots.withColumnRenamed("id", "dst"), "dst")
        .count()
    )
    release_caches()
    assert bad_member == 0, f"{bad_member} members not adjacent to their pivot"
    assert bad_pivot == 0, f"{bad_pivot} pivot-pivot edges (not an independent set)"
    return {"n": n, "non_adjacent_members": int(bad_member), "pivot_pivot_edges": int(bad_pivot)}


def _scaling_summary(out: dict) -> None:
    configs = out["configs"]
    rkey = "rounds" if "rounds" in configs[0] else "closure_rounds"
    out["wall_ratio_10x"] = round(configs[1]["wall_s"] / configs[0]["wall_s"], 2)
    out["rounds_delta_10x"] = configs[1][rkey] - configs[0][rkey]
    if len(configs) > 2:
        out["wall_ratio_100x"] = round(configs[2]["wall_s"] / configs[0]["wall_s"], 2)
        out["rounds_delta_100x"] = configs[2][rkey] - configs[0][rkey]


def main() -> None:
    spark = get_spark("bench_pivot")
    spark.sparkContext.setLogLevel("ERROR")
    pivot_out = {
        "invariants": check_invariants(spark),
        "configs": [run_pivot(spark, n) for n in SIZES],
    }
    _scaling_summary(pivot_out)
    print(json.dumps(pivot_out, indent=2))
    with open("BENCH/pivot_scale.json", "w") as f:
        json.dump(pivot_out, f, indent=2)

    mc_out = {"configs": [run_merge_center(spark, n) for n in SIZES]}
    _scaling_summary(mc_out)
    print(json.dumps(mc_out, indent=2))
    with open("BENCH/merge_center_scale.json", "w") as f:
        json.dump(mc_out, f, indent=2)


if __name__ == "__main__":
    main()
