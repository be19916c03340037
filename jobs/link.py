"""spark-submit entry point for the full record-linkage pipeline.

    spark-submit --py-files dist/levenshtein_spark.zip jobs/link.py \
        --source /path/to/code_files --checkpoint /path/to/warehouse \
        --k-content 8 --k-path 4 [--synthetic-clusters N]

Reads the code_files table (Iceberg table name or parquet path; or generates
the deterministic synthetic corpus), runs normalize → blocking → salted
pairs → Arrow-batched scoring → edges → clustering (a partition-local
union-find pass, then star rounds across partitions) with per-stage
checkpoints (``normalized``, ``blocks``, ``scored``, ``clusters``: the pairs
and the edges are projections of ``scored``), and prints stage metrics.
Resumes from the last completed stage on re-run (north_rule: resumable from
checkpoint).

Incremental mode (``--incremental-batch DAY``): the source is a delta of
NEW records linked against the warehouse's existing base tables without
re-pairing the base (plans.run_incremental_linkage); chain day-over-day
batches with ``--base-prefix day1_all_`` etc.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# runnable as a plain script too (spark-submit --py-files covers clusters)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", help="parquet path or Iceberg table of code_files")
    ap.add_argument("--synthetic-clusters", type=int, default=0,
                    help="generate the deterministic synthetic corpus instead")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--k-content", type=int, default=8)
    ap.add_argument("--k-path", type=int, default=4)
    ap.add_argument("--prefix-len", type=int, default=256)
    ap.add_argument("--len-band", type=int, default=32)
    ap.add_argument("--hot-threshold", type=int, default=2000,
                    help="a block of n > T rows is salted into ceil(n / T) pieces")
    ap.add_argument("--memoize-scoring", action="store_true",
                    help="score one representative per distinct payload tuple "
                         "(clone-heavy corpora; measured 3.0x at k=8 in "
                         "08a9d5d:BENCH/memoize_regimes.json)")
    ap.add_argument("--cluster-method", default="cc",
                    choices=["cc", "pivot", "star", "merge_center"],
                    help="entity formation: transitive closure (default), "
                         "KwikCluster correlation clustering, star, or "
                         "MERGE-CENTER (operators/clustering.py)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--incremental-batch", default=None, metavar="BATCH_ID",
                    help="treat --source as a delta of new records and link it "
                         "against the checkpointed base (stages namespaced "
                         "BATCH_ID_*)")
    ap.add_argument("--base-prefix", default="",
                    help="base table prefix for chained incremental batches "
                         "(e.g. day1_all_)")
    args = ap.parse_args()

    from levenshtein_spark.plans.linkage import (
        LinkageConfig,
        clusters_stage_name,
        pair_counters,
        run_incremental_linkage,
        run_linkage,
    )
    from levenshtein_spark.plans.stages import footer_metrics
    from levenshtein_spark.session import get_spark
    from levenshtein_spark.sources.code_files import code_files_df

    spark = get_spark("link", master=args.master)
    if args.synthetic_clusters:
        source = code_files_df(spark, num_clusters=args.synthetic_clusters)
    elif args.source and args.source.endswith((".parquet", "/")) or (args.source or "").startswith("/"):
        source = spark.read.parquet(args.source)
    elif args.source:
        source = spark.read.table(args.source)
    else:
        ap.error("provide --source or --synthetic-clusters")

    cfg = LinkageConfig(
        checkpoint_dir=args.checkpoint,
        k_content=args.k_content,
        k_path=args.k_path,
        prefix_len=args.prefix_len,
        len_band=args.len_band,
        hot_threshold=args.hot_threshold,
        memoize_scoring=args.memoize_scoring,
        cluster_method=args.cluster_method,
        force=args.force,
    )
    t0 = time.perf_counter()
    if args.incremental_batch:
        stages = run_incremental_linkage(
            spark, source, cfg,
            batch_id=args.incremental_batch,
            base_prefix=args.base_prefix,
        )
        label, prefix = "delta_", f"{args.incremental_batch}_"
    else:
        stages = run_linkage(spark, source, cfg)
        label = prefix = ""
    # summary key -> stage table; the pairs and the edges are projections
    # of the scored stage, counted by its observed counters
    tables = {f"{label}{t}": f"{prefix}{t}" for t in ("normalized", "blocks", "scored")}
    tables["clusters"] = clusters_stage_name(cfg, prefix)
    wh = stages["warehouse"]
    if wh.catalog:
        counts = {k: stages[k].count() for k in [*tables, f"{label}pairs", f"{label}edges"]}
    else:  # the rows each stage's write tasks wrote, from the parquet footers
        counts = {k: sum(footer_metrics(wh, t)["rows"].to_pylist()) for k, t in tables.items()}
        # a resumed scored stage was never observed: one aggregation over it
        counters = stages["counters"] or pair_counters(stages[f"{label}scored"])
        counts[f"{label}pairs"] = counters["candidates"]
        counts[f"{label}edges"] = counters["edges"]
    n_clusters = stages["clusters"].select("cluster_id").distinct().count()
    print(json.dumps({
        "wall_sec": round(time.perf_counter() - t0, 2),
        "stage_rows": counts,
        "n_clusters": n_clusters,
        "stage_times": {k: round(v, 2) for k, v in cfg.stage_times.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
