"""Skew dress rehearsal: census-derived salt counts on a Zipf-skewed block
distribution.

Uniform synthetic corpora never put one block past a double-digit share of
the rows; this tool builds exactly that — one giant block, a band of warm
blocks, a long uniform tail — runs the lossless pair generation of
``candidate_pairs`` on it, and records the straggler evidence:

* **wall time** of the pair count (same input, same session settings);
* **max-task / mean- and median-task duration** of the dominant (join)
  stage, read from Spark's own task metrics (UI REST ``taskSummary``
  quantiles) — the literal straggler ratio.

The salt count of a hot block is ``S = ceil(n / T)`` (``T`` =
``hot_threshold``), so the 8,000-row giant block takes 16 salts at the
default ``T = 500`` while the 600-row warm blocks take 2 each: every salted
task sees about ``T`` left rows whatever the block-size distribution.

Usage: python tools/bench_dress_skew.py [n_rows] [hot_threshold]
(defaults 50_000 and 500). Prints one JSON object.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def _build_session(tag: str):
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return (
        SparkSession.builder.appName(f"dress_skew_{tag}")
        .master(f"local[{cpus}]")
        # AQE off + many fixed-width partitions IN THIS TOOL ONLY: the
        # measurement wants raw task boundaries (AQE coalescing merges the
        # tail's tiny tasks and blurs the per-salt fan-out the experiment
        # isolates). The engine itself keeps AQE on — explicit salting and
        # AQE skew handling compose, per operators/blocking.py.
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "256")
        # no auto-broadcast: at this toy scale Spark would broadcast the
        # 50k-row side and run the join inside the (evenly partitioned)
        # cache scan, hiding the skew entirely; at 10^9-row scale the side
        # cannot broadcast and the shuffle join this experiment measures is
        # the plan that actually runs.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.session.timeZone", "UTC")
        # UI on: the REST API is the task-duration source
        .config("spark.ui.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )


def _zipf_blocks(spark, n: int):
    """(block_key, id): block 0 holds ~16% of rows, blocks 1-20 ~1.2% each,
    the rest a uniform tail of ~30-row blocks. Deterministic (id-derived)."""
    giant = int(n * 0.16)
    warm_each = int(n * 0.012)
    warm_total = warm_each * 20
    ids = spark.range(0, n).select(F.col("id"))
    key = (
        F.when(F.col("id") < giant, F.lit("giant"))
        .when(
            F.col("id") < giant + warm_total,
            F.concat(F.lit("warm"), ((F.col("id") - giant) / warm_each).cast("long").cast("string")),
        )
        .otherwise(F.concat(F.lit("tail"), (F.col("id") / 30).cast("long").cast("string")))
    )
    return ids.select(key.alias("block_key"), "id")


def _stage_straggler_ratio(spark) -> dict:
    """max/median task duration of the longest completed stage, via the UI
    REST API (taskSummary quantiles)."""
    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    def get(path):
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}{path}") as r:
            return json.loads(r.read())

    stages = [s for s in get("/stages?status=complete") if s.get("numCompleteTasks", 0) > 0]
    # the join stage: where the salted equi-join PRODUCES pairs — the stage
    # with the largest shuffle WRITE (the pair stream feeding the dedup
    # aggregation, whose own read side is hash-balanced in every mode)
    dom = max(stages, key=lambda s: s.get("shuffleWriteBytes", 0))
    summ = get(
        f"/stages/{dom['stageId']}/{dom['attemptId']}/taskSummary?quantiles=0.5,1.0"
    )
    med, mx = summ["executorRunTime"]
    n = dom["numCompleteTasks"]
    mean = dom.get("executorRunTime", 0) / max(n, 1)
    return {
        "stage_id": dom["stageId"],
        "n_tasks": n,
        "task_runtime_median_ms": med,
        "task_runtime_mean_ms": round(mean, 1),
        "task_runtime_max_ms": mx,
        # max/mean is the straggler metric that matters on a fixed-width
        # cluster: with T tasks on C cores the stage ends no earlier than
        # max(total/C, max_task); max/mean >> n_tasks/cores means one task
        # gates the stage. (max/median is noisy here: the uniform tail
        # contributes many near-zero tasks that drag the median.)
        "straggler_ratio_max_over_mean": round(mx / max(mean, 1e-9), 2),
        "straggler_ratio_max_over_median": round(mx / max(med, 1e-9), 2),
    }


def main() -> None:
    from levenshtein_spark.operators.pairs import candidate_pairs

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    t = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    spark = _build_session(f"t{t}")
    try:
        blocks = _zipf_blocks(spark, n).persist()
        blocks.count()
        t0 = time.monotonic()
        n_pairs = candidate_pairs(blocks, hot_threshold=t).count()
        rec = {
            "corpus": "zipf: giant block 16% of rows, 20 warm blocks 1.2% each, 30-row tail",
            "mode": f"derived_t{t}",
            "n_rows": n,
            "n_pairs": n_pairs,
            "wall_s": round(time.monotonic() - t0, 2),
        }
        rec.update(_stage_straggler_ratio(spark))
    finally:
        spark.stop()
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
