"""Regime evidence for value-level memoized scoring (score_pairs memoize=).

Measures direct vs memoized evaluation of Σ dist over the clone-heavy sf1
bench corpus's candidate pairs (26.8× payload duplication) at two kernel
regimes:

* k=8 banded + early exits — the pipeline default. Expected: memoization
  LOSES: the kernel scores a pair faster than a payload-wide shuffle can
  dedup it (the counting bound kills ~99% of non-matches, trim collapses
  near-dups).
* k=64 (deep band, early exits mostly defeated on the clone mix) — a
  stand-in for any expensive comparator (wide-cap DP, Jaro over long
  strings, model scoring). Expected: memoization WINS ~duplication-fold.

Writes BENCH/memoize_regimes.json. Usage: python tools/bench_memoize.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark import StorageLevel  # noqa: E402

from levenshtein_spark.session import get_spark  # noqa: E402
from levenshtein_spark.functions.distance import bounded_edit_dist_t  # noqa: E402
from levenshtein_spark.driver_queries.linkage import (  # noqa: E402
    _LEN_BAND,
    _PREFIX,
    docs_as_code_files,
)
from levenshtein_spark.operators.blocking import exploded_blocks  # noqa: E402
from levenshtein_spark.operators.normalize import normalize  # noqa: E402
from levenshtein_spark.operators.pairs import (  # noqa: E402
    attach_pair_payload,
    candidate_pairs,
)


def main() -> None:
    spark = get_spark("bench_memoize")
    from bench import _ensure_sf1_corpus

    sf1_dir = _ensure_sf1_corpus(spark, "/root/testdata/sf0.1")
    norm = normalize(docs_as_code_files(spark, sf1_dir), prefix_len=_PREFIX)
    slim = candidate_pairs(
        exploded_blocks(norm, len_band=_LEN_BAND), hot_threshold=50
    )
    pairs = (
        attach_pair_payload(slim, norm, ["content_prefix"])
        .select("content_prefix_a", "content_prefix_b")
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    n = pairs.count()

    out: dict = {"pairs": n}

    grouped = (
        pairs.groupBy("content_prefix_a", "content_prefix_b")
        .agg(F.count("*").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    n_distinct = grouped.count()  # also materializes the memo table
    out["distinct_pairs"] = n_distinct
    out["duplication_factor"] = round(n / n_distinct, 2)

    for k in (8, 64):
        d = bounded_edit_dist_t("content_prefix_a", "content_prefix_b", k)
        t0 = time.perf_counter()
        s_direct = pairs.select(d.alias("d")).agg(F.sum("d")).collect()[0][0]
        t_direct = round(time.perf_counter() - t0, 3)
        # memo table is pre-materialized above, so this times ONLY the
        # per-distinct-pair scoring — the regime question is "is the kernel
        # or the dedup shuffle the bottleneck", answered by recording the
        # shuffle (memo_build) once separately below
        t0 = time.perf_counter()
        s_memo = (
            grouped.select((d * F.col("cnt")).alias("d")).agg(F.sum("d")).collect()[0][0]
        )
        t_memo_score = round(time.perf_counter() - t0, 3)
        assert s_memo == s_direct, (s_memo, s_direct)
        out[f"k{k}"] = {
            "direct_sec": t_direct,
            "memo_score_sec": t_memo_score,
            "sum_equal": True,
        }

    # the memo build cost (payload-wide shuffle), measured on its own
    grouped.unpersist()
    t0 = time.perf_counter()
    (
        pairs.groupBy("content_prefix_a", "content_prefix_b")
        .agg(F.count("*").alias("cnt"))
        .select(F.count("*"))
        .collect()
    )
    out["memo_build_sec"] = round(time.perf_counter() - t0, 3)

    for k in (8, 64):
        r = out[f"k{k}"]
        r["memo_total_sec"] = round(out["memo_build_sec"] + r["memo_score_sec"], 3)
        r["memo_speedup"] = round(r["direct_sec"] / r["memo_total_sec"], 2)

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/memoize_regimes.json", "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
