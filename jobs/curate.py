"""spark-submit entry point for the corpus-curation pipeline.

    spark-submit --py-files dist/levenshtein_spark.zip jobs/curate.py \
        --source /path/to/documents.parquet --checkpoint /path/to/warehouse \
        [--min-quality 0.4 --jaccard 0.8 --shard-budget 2048]

Runs profile → quality gate → exact dedup → MinHash near-dup collapse →
hash splits → token-budget shard packing with per-stage checkpoints and
lineage metrics (plans/curation.py), and prints stage row counts plus the
retention funnel. Resumes from the last completed stage on re-run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="parquet path or table of documents")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--min-quality", type=float, default=0.4)
    ap.add_argument("--max-top-word-frac", type=float, default=0.5)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--shard-budget", type=int, default=2048)
    ap.add_argument("--hot-threshold", type=int, default=2000)
    ap.add_argument("--master", default=None)
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--incremental-batch", default=None, metavar="BATCH_ID",
                    help="treat --source as an append-only delta of new docs "
                         "curated against the checkpointed base (stages "
                         "namespaced BATCH_ID_*)")
    ap.add_argument("--base-prefix", default="",
                    help="base table prefix for chained incremental batches "
                         "(e.g. day1_all_)")
    args = ap.parse_args()

    from levenshtein_spark.plans.curation import (
        CurationConfig,
        run_curation,
        run_incremental_curation,
    )
    from levenshtein_spark.session import get_spark

    spark = get_spark("curate", master=args.master)
    if args.source.endswith((".parquet", "/")) or args.source.startswith("/"):
        docs = spark.read.parquet(args.source)
    else:
        docs = spark.read.table(args.source)

    cfg = CurationConfig(
        checkpoint_dir=args.checkpoint,
        min_quality=args.min_quality,
        max_top_word_frac=args.max_top_word_frac,
        jaccard=args.jaccard,
        shard_budget=args.shard_budget,
        hot_threshold=args.hot_threshold,
        force=args.force,
    )
    t0 = time.perf_counter()
    if args.incremental_batch:
        stages = run_incremental_curation(
            spark, docs, cfg,
            batch_id=args.incremental_batch,
            base_prefix=args.base_prefix,
        )
        count_names = ("delta_profiled", "delta_kept", "delta_exact_canon",
                       "canon", "shards")
    else:
        stages = run_curation(spark, docs, cfg)
        count_names = ("profiled", "kept", "exact_canon", "canon", "shards")
    counts = {name: stages[name].count() for name in count_names}
    # retention = survivors / input; in incremental mode "input" is the
    # merged corpus (all_profiled), not the delta
    denom = counts[count_names[0]] if not args.incremental_batch else (
        stages["all_profiled"].count()
    )
    n_shards = stages["shards"].select("split", "shard_id").distinct().count()
    print(json.dumps({
        "wall_sec": round(time.perf_counter() - t0, 2),
        "stage_rows": counts,
        "retention": round(counts["canon"] / max(denom, 1), 4),
        "n_shards": n_shards,
        "stage_times": {k: round(v, 2) for k, v in cfg.stage_times.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
