"""Incremental-vs-full-batch linkage cost measurement.

Evidence for the scale claim behind ``plans.run_incremental_linkage``: a
daily delta should cost ~|delta|·fanout, not a full |corpus|² re-pair. This
runs the same synthetic corpus three ways on one warm JVM —

* ``full``        — batch pipeline over the whole corpus (fresh warehouse);
* ``base``        — batch pipeline over the non-delta 90% (fresh warehouse);
* ``incremental`` — the 10% delta linked against that base via
  ``run_incremental_linkage`` (delta×base bipartite + delta×delta only);

verifies incremental labels == full-batch labels, and prints one JSON line
with the three wall times and the incremental/full ratio. Usage::

    python tools/bench_incremental.py [--clusters 4000] [--runs 1]

Numbers land in BENCH/BASELINE.md §Incremental linkage.
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
    ap.add_argument("--clusters", type=int, default=4000)
    ap.add_argument("--tmp", default="/tmp/bench_incremental_wh")
    args = ap.parse_args()

    import shutil

    import pyspark.sql.functions as F

    from levenshtein_spark.plans.linkage import (
        LinkageConfig,
        run_incremental_linkage,
        run_linkage,
    )
    from levenshtein_spark.session import get_spark, warm_python_workers
    from levenshtein_spark.sources.code_files import code_files_df

    spark = get_spark("bench_incremental")
    warm_python_workers(spark)
    src = code_files_df(spark, num_clusters=args.clusters, seed=101)
    n_rows = src.count()
    is_delta = F.pmod(F.xxhash64("path"), F.lit(10)) == 0
    base_src, delta_src = src.where(~is_delta), src.where(is_delta)
    n_delta = delta_src.count()

    def fresh(tag: str) -> str:
        d = os.path.join(args.tmp, tag)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def cfg_for(tag: str) -> LinkageConfig:
        return LinkageConfig(
            checkpoint_dir=fresh(tag), hot_threshold=2000
        )

    t0 = time.perf_counter()
    full = run_linkage(spark, src, cfg_for("full"))
    full_labels = {r.id: r.cluster_id for r in full["clusters"].collect()}
    full_sec = time.perf_counter() - t0
    full_pairs = full["scored"].count()

    incr_cfg = cfg_for("incr")
    t0 = time.perf_counter()
    run_linkage(spark, base_src, incr_cfg)
    base_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    out = run_incremental_linkage(spark, delta_src, incr_cfg)
    incr_labels = {r.id: r.cluster_id for r in out["clusters"].collect()}
    incr_sec = time.perf_counter() - t0
    incr_pairs = out["delta_scored"].count()

    assert incr_labels == full_labels, "incremental labels diverge from full batch"
    print(
        json.dumps(
            {
                "rows": n_rows,
                "delta_rows": n_delta,
                "delta_fraction": round(n_delta / n_rows, 4),
                "full_sec": round(full_sec, 2),
                "base_sec": round(base_sec, 2),
                "incremental_sec": round(incr_sec, 2),
                "incremental_over_full": round(incr_sec / full_sec, 3),
                "full_pairs_scored": full_pairs,
                "incremental_pairs_scored": incr_pairs,
                "pairs_ratio": round(incr_pairs / full_pairs, 4),
                "labels_equal": True,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
