"""Reliable vs local closure on the edges of one ``link_batch`` call.

Runs ``run_linkage`` once on the seeded ``link_batch`` corpus of
``perfbench/``, then times ``cluster_labels`` over its ``edges`` table in the
two lineage-truncation modes of ``connected_components``: reliable parquet
rounds under a checkpoint dir, and ``localCheckpoint``. Calls alternate
between the modes (the host drifts over minutes); each call includes
collecting the labels, and every call must label every id identically.

    python tools/bench_closure_modes.py --seed 7 --reps 5 --work /tmp/closure_ab

Prints one JSON line: per-mode wall times, their medians and the delta.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "perfbench")

from workloads import FULL, LinkBatch  # noqa: E402

from levenshtein_spark.operators.clustering import cluster_labels  # noqa: E402
from levenshtein_spark.session import get_spark, release_caches  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--work", default="/tmp/closure_ab")
    args = ap.parse_args()

    shutil.rmtree(args.work, ignore_errors=True)
    os.makedirs(args.work)
    spark = get_spark("bench_closure_modes")
    wl = LinkBatch(args.seed, args.work, FULL)
    wl.prepare(spark)
    out = wl.call(spark, 0)
    ids, edges = out["normalized"].select("id"), out["edges"]

    walls: dict[str, list[float]] = {"reliable": [], "local": []}
    labels = None
    for rep in range(args.reps + 1):  # call 0 of each mode is a warm-up
        for mode in walls:
            ckpt = os.path.join(args.work, f"cc_{mode}_{rep}") if mode == "reliable" else None
            t0 = time.perf_counter()
            got = {r.id: r.cluster_id for r in cluster_labels(ids, edges, checkpoint_dir=ckpt).collect()}
            wall = time.perf_counter() - t0
            release_caches()
            if labels is None:
                labels = got
            elif got != labels:
                raise SystemExit(f"{mode} labels differ on call {rep}")
            if rep:
                walls[mode].append(wall)

    med = {m: statistics.median(w) for m, w in walls.items()}
    print(json.dumps({
        "seed": args.seed,
        "edges": edges.count(),
        "ids": len(labels),
        "labels_identical": True,
        "wall_s": walls,
        "median_s": med,
        "reliable_minus_local_s": med["reliable"] - med["local"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
