"""Driver-contract query registry.

Each submodule exposes ``QUERIES: dict[str, Callable[[SparkSession, str],
DataFrame]]`` and ``ORACLES: dict[str, str]`` (DuckDB SQL twins; a query with
no oracle gets the driver's weaker rows-only check). ``__spark_entry__``
aggregates them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def collect() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    from levenshtein_spark.driver_queries import (
        ann,
        catalog,
        curation,
        dedup,
        er_curve,
        er_clustering,
        er_eval,
        linkage,
        lm,
        multimodal,
        phonetic,
        relational,
        streaming,
        text,
    )

    queries: dict = {}
    oracles: dict = {}
    for mod in (
        catalog, linkage, dedup, text, ann, relational, multimodal, streaming, er_eval, curation,
        phonetic, lm, er_curve, er_clustering,  # appended last: keeps the banked registry order of the first 139 intact
    ):
        overlap = queries.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        queries.update(mod.QUERIES)
        oracles.update(mod.ORACLES)
    unknown = oracles.keys() - queries.keys()
    if unknown:
        raise ValueError(f"oracle without query: {unknown}")

    # The round driver verifies the FIRST 50 registry entries against their
    # DuckDB oracles. Every one of the 152 registry queries has a driver-green
    # row in CORRECTNESS_r01-r05.json (zero failures), so the front rotates to
    # the 50 queries driver-checked least recently: the 2 last seen in r02,
    # then 48 of the 50 last seen in r03 in registry order (dedup_embedding
    # and kmeans_cells, the other two r03 rows, lead the next rotation). The
    # registry itself is unchanged — all 152 queries stay registered and
    # strict-checked locally (tests/run_driver_check.py).
    front = [
        # last driver-checked in r02
        "similarity_join_docs", "edjoin_docs_osa",
        # last driver-checked in r03
        "edit_dist", "sql_usage_filter", "edit_dist_t", "bounded_edit_dist",
        "bounded_edit_dist_builtin", "bounded_edit_dist_t", "similarity_t", "min_edit_dist",
        "min_edit_dist_t", "min_similarity_t", "top_k_matches", "linkage_normalize",
        "linkage_blocks", "linkage_pairs", "linkage_score", "linkage_edges", "linkage_clusters",
        "linkage_golden", "linkage_incremental", "linkage_cluster_stats", "dedup_exact",
        "dedup_minhash", "dedup_simhash", "dedup_simhash_pairs", "dedup_ngram_jaccard",
        "dedup_tfidf", "dedup_prefix", "dedup_substring", "dedup_substring_spans",
        "dedup_substring_multi", "dedup_suffix_lcp", "dedup_suffix_spans", "dedup_canonical",
        "text_stats", "text_quality", "text_lang_id", "text_fingerprint", "text_repetition",
        "text_top_tokens", "text_oov_rate", "text_keywords", "ann_cosine_topk",
        "ann_lsh_buckets", "ann_bucket_topk", "ann_banded_topk", "ann_ivf_topk", "ann_pq_topk",
        "ann_ivfpq_topk",
    ]
    order = front + [q for q in queries if q not in set(front)]
    queries = {q: queries[q] for q in order}
    oracles = {q: oracles[q] for q in order if q in oracles}
    return queries, oracles


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
