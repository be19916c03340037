"""A/B: r03 double-hashing MinHash blocking keys vs the r02 per-slot-md5 keys.

VERDICT r03 item 1: the round-3 blocking change (commit be92a2d, the
Kirsch–Mitzenmacher double-hash family in functions/hashing.py) grew the
sf0.1 candidate set 406,002 → 542,380 (+34%) and was never A/B'd for a
recall-per-cost justification. This tool runs BOTH key schemes over the
identical sf0.1 corpus and reports, per scheme:

* wall time of the full blocks→salted-pairs→payload path (best-of-2, the
  bench's doc_block_pairs shape, clearCache between runs);
* candidate-pair count;
* verified-match count (bounded OSA dist ≤ 8 on 64-char content prefixes —
  the downstream accept set) plus each scheme's coverage of the UNION of
  both schemes' verified sets (a lower bound on ground truth);
* PLANTED recall on pairs only the MinHash path keys can catch: one replica
  per base doc whose content is extended by 40 bytes (outside both length
  grids' ±16 reach) and whose path shares 2 of its 3 tokens with the base
  (same source dir, new file stem → path-token Jaccard 0.5). Ideal MinHash
  at b=4, r=2 catches such a pair with p = 1-(1-0.5^2)^4 ≈ 0.684; a
  correlated hash family shows up as recall far from that number.

The md5i variant below replicates the r02 key math verbatim (git c4bf23d
blocking.py) — it exists only for this measurement; production code and
every DuckDB oracle stay on the double-hash family.

Usage: python tools/bench_blocking_ab.py   → writes BENCH/blocking_ab.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark import StorageLevel  # noqa: E402

_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_K = 8


def _exploded_blocks_md5i(normalized, len_band, num_hashes=8, bands=4):
    """The r02 exploded_blocks (git c4bf23d): one md5 PER SLOT per token."""
    rows = num_hashes // bands
    g1 = F.floor(F.col("content_len") / len_band).cast("string")
    g2 = F.floor((F.col("content_len") + len_band // 2) / len_band).cast("string")
    toks = normalized.select(
        "id", "lang", g1.alias("g1"), g2.alias("g2"),
        F.explode_outer("path_tokens").alias("t"),
    )
    hashed = toks.select(
        "id", "lang", "g1", "g2",
        *[
            F.conv(F.substring(F.md5(F.concat(F.lit(f"{i}\x1f"), F.col("t"))), 1, 15), 16, 10)
            .cast("long")
            .alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sig = hashed.groupBy("id", "lang", "g1", "g2").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    keys = [
        F.concat_ws("|", F.lit("len0"), F.col("lang"), F.col("g1")),
        F.concat_ws("|", F.lit("len1"), F.col("lang"), F.col("g2")),
    ]
    for b in range(bands):
        part = [F.col(f"h{b * rows + r}").cast("string") for r in range(rows)]
        keys.append(
            F.concat(
                F.lit("mh|"), F.col("lang"), F.lit(f"|b{b}:"), F.md5(F.concat_ws("_", *part))
            )
        )
    return sig.select(F.explode(F.array(*keys)).alias("block_key"), "id")


def main() -> None:
    from levenshtein_spark.driver_queries.linkage import _LEN_BAND, _PREFIX, docs_as_code_files
    from levenshtein_spark.functions.distance import bounded_edit_dist_t
    from levenshtein_spark.operators.blocking import exploded_blocks
    from levenshtein_spark.operators.normalize import normalize
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
    from levenshtein_spark.session import get_spark, release_caches, warm_python_workers

    spark = get_spark("blocking_ab")
    warm_python_workers(spark)

    schemes = {
        "double_r03": lambda n: exploded_blocks(n, len_band=_LEN_BAND),
        "md5i_r02": lambda n: _exploded_blocks_md5i(n, len_band=_LEN_BAND),
    }

    record: dict = {"sf_dir": _SF, "k": _K}
    verified_sets: dict[str, object] = {}

    for name, blocks_fn in schemes.items():
        rec: dict = {}

        def build():
            norm = normalize(docs_as_code_files(spark, _SF), prefix_len=_PREFIX)
            slim = candidate_pairs(
                blocks_fn(norm).persist(), hot_threshold=50
            )
            return attach_pair_payload(slim, norm, ["content_prefix"]).select(
                "id_a", "id_b", "content_prefix_a", "content_prefix_b"
            ).persist(StorageLevel.MEMORY_AND_DISK_DESER)

        best, pairs, n_pairs = float("inf"), None, 0
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            pairs = build()
            n_pairs = pairs.count()
            best = min(best, time.perf_counter() - t0)
        rec["t_pairs_s"] = round(best, 2)
        rec["n_candidate_pairs"] = n_pairs

        t0 = time.perf_counter()
        verified = pairs.where(
            bounded_edit_dist_t("content_prefix_a", "content_prefix_b", _K) <= _K
        ).select("id_a", "id_b").persist()
        rec["n_verified_pairs"] = verified.count()
        rec["t_verify_s"] = round(time.perf_counter() - t0, 2)
        verified_sets[name] = verified
        record[name] = rec

    # coverage of the union of both schemes' verified sets (truth lower bound)
    a, b = verified_sets["double_r03"], verified_sets["md5i_r02"]
    union = a.unionByName(b).distinct().persist()
    n_union = union.count()
    record["n_verified_union"] = n_union
    for name, v in verified_sets.items():
        record[name]["verified_union_coverage"] = round(
            v.distinct().count() / max(n_union, 1), 4
        )
    release_caches()
    spark.catalog.clearCache()

    # ---- planted MinHash-only recall -------------------------------------
    # replica: content + 40 bytes (straddles every ±16 length-grid key) and
    # path "{source}/p{doc_id}.txt" (same dir token, new stem → Jaccard 0.5)
    base = spark.read.parquet(f"{_SF}/documents.parquet")
    replica = base.select(
        F.col("source").alias("repo"),
        F.concat(F.col("source"), F.lit("/p"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        (F.col("doc_id") + 10_000_000).cast("string").alias("commit"),
        "lang",
        F.concat(F.col("text"), F.lit("x" * 40)).alias("content"),
    )
    from levenshtein_spark.driver_queries.linkage import docs_as_code_files as _dacf

    corpus = _dacf(spark, _SF).unionByName(replica)
    norm = normalize(corpus, prefix_len=_PREFIX).persist()
    # ground truth: (base_id, replica_id) keyed by doc_id
    truth = (
        normalize(_dacf(spark, _SF), prefix_len=_PREFIX)
        .select(F.col("commit").alias("doc"), F.col("id").alias("id_base"))
        .join(
            norm.where(F.col("path").contains("/p")).select(
                (F.col("commit").cast("long") - 10_000_000).cast("string").alias("doc"),
                F.col("id").alias("id_rep"),
            ),
            "doc",
        )
        .select(
            F.least("id_base", "id_rep").alias("id_a"),
            F.greatest("id_base", "id_rep").alias("id_b"),
        )
        .persist()
    )
    n_truth = truth.count()
    record["n_planted"] = n_truth
    record["planted_ideal_recall"] = round(1 - (1 - 0.5**2) ** 4, 4)
    for name, blocks_fn in schemes.items():
        cand = candidate_pairs(
            blocks_fn(norm).persist(), hot_threshold=50
        ).select("id_a", "id_b")
        hit = truth.join(cand, ["id_a", "id_b"], "left_semi").count()
        record[name]["planted_mh_recall"] = round(hit / max(n_truth, 1), 4)
        spark.catalog.clearCache()

    out = "BENCH/blocking_ab.json"
    with open(out, "w") as fh:
        json.dump(record, fh, indent=2)
    print(json.dumps(record, indent=2))


if __name__ == "__main__":
    main()
