"""Headline benchmark — one JSON line for the round driver.

Runs the engine's flagship workloads at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly one
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline queries:

* ``link_pipeline``   — full customer entity-resolution pipeline (blocking →
  salted pairs → Arrow-batched bounded-distance scoring → partition-local
  union-find plus star rounds), the north_star workload.
* ``doc_block_pairs`` — documents-corpus blocking + lossless salted candidate
  generation (dual length grids + path-token MinHash bands).
* ``osa_scoring``     — raw vectorized banded-OSA kernel throughput over the
  candidate pairs' 64-char content prefixes (reports pairs/sec too).
* ``closest_match``   — the ``min_edit_dist_t`` operator, probe set vs
  customer names: one ``mapInArrow`` task per core with the probes shipped
  to each task, one winner per probe per task (reference ``min_edit_dist``
  query shape, doc/Usage.md:178-189).

Extra context (scored pairs/sec, row counts) rides in the ``detail`` key;
scaling runs live in tools/bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F  # noqa: E402


def _ensure_sf1_corpus(spark, sf01_dir: str) -> str:
    """Deterministic sf1-equivalent corpus (10× sf0.1), built once per
    source dir and generator version and cached: customers are 150k fresh rows in the testdata shape
    (Customer#%09d names, md5-derived attributes — the generator of the
    retired 08a9d5d:tools/bench_dress.py); documents are the sf0.1 corpus
    replicated 10× with a per-replica tail mutation (replica 0 verbatim),
    which preserves the near-dup structure while creating 10-deep clone
    sets — a harder skew case than fresh text."""
    import hashlib
    import inspect

    import pyspark.sql.functions as F

    # keyed by the source dir's absolute path and by this generator's code:
    # a run from another source dir or after a generator edit rebuilds
    src = os.path.abspath(sf01_dir)
    generator = hashlib.sha256(inspect.getsource(_ensure_sf1_corpus).encode()).hexdigest()
    key = f"{src}\n{generator}\n"
    out_dir = f"/tmp/levenshtein_spark_sf1_{hashlib.sha256(src.encode()).hexdigest()[:16]}"
    marker = os.path.join(out_dir, "_built")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == key:
                return out_dir
    seg_names = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    n = 150_000
    ids = spark.range(1, n + 1).select(F.col("id").alias("c_custkey"))
    h = F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 15), 16, 10).cast("long")
    ids.select(
        "c_custkey",
        F.format_string("Customer#%09d", F.col("c_custkey")).alias("c_name"),
        F.pmod(h, F.lit(25)).cast("int").alias("c_nationkey"),
        ((F.pmod(h, F.lit(1_099_999)) - F.lit(99_999)) / 100.0).alias("c_acctbal"),
        F.element_at(
            F.array(*[F.lit(s) for s in seg_names]), (F.pmod(h, F.lit(5)) + 1).cast("int")
        ).alias("c_mktsegment"),
    ).write.mode("overwrite").parquet(f"{out_dir}/customer.parquet")

    d = spark.read.parquet(f"{sf01_dir}/documents.parquet")
    reps = d.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("r")
    )
    text1 = F.when(F.col("r") == 0, F.col("text")).otherwise(
        F.concat(F.col("text"), F.lit(" rev"), F.col("r").cast("string"))
    )
    reps.select(
        (F.col("doc_id") * 10 + F.col("r")).alias("doc_id"),
        text1.alias("text"),
        "lang",
        "source",
        F.length(text1).cast("long").alias("n_chars"),
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    with open(marker, "w") as fh:
        fh.write(key)
    return out_dir


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    from levenshtein_spark.driver_queries.catalog import q_min_edit_dist
    from levenshtein_spark.driver_queries.linkage import (
        _LEN_BAND,
        _PREFIX,
        docs_as_code_files,
        flagship_clusters,
    )
    from levenshtein_spark.functions.distance import bounded_edit_dist_t
    from levenshtein_spark.operators.blocking import exploded_blocks
    from levenshtein_spark.operators.normalize import normalize
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
    from levenshtein_spark.session import get_spark, release_caches, warm_python_workers

    spark = get_spark("bench")
    warm_python_workers(spark)
    times: dict[str, float] = {}
    detail: dict[str, float] = {}

    def clock_min(name: str, fn, runs: int = 2) -> None:
        """Best-of-N for floor measurements: this host swings up to 4x
        between identical runs (thermal/contention + occasional Python
        worker refork, see BENCH/BASELINE.md controls), which is exactly
        the r01 arrow_noop anomaly. The floor is the defensible number;
        every individual run is recorded in detail."""
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            samples.append(round(time.perf_counter() - t0, 3))
        times[name] = min(samples)
        detail[f"{name}_runs"] = float(len(samples))
        for i, s in enumerate(samples):
            detail[f"{name}_run{i}"] = s
        release_caches()  # the query is fully materialized

    # q1: full ER pipeline on customers — best-of-2 like the floors (the
    # host swings up to 50% between identical runs, which poisoned r01's
    # record); spark.catalog.clearCache() between runs drops every persisted
    # intermediate so run1 is a FULL re-run (plan-equality cache hits would
    # otherwise make it measure nothing), warm-JVM only.
    n_clusters = [0]

    def run_pipeline() -> None:
        spark.catalog.clearCache()
        n_clusters[0] = flagship_clusters(spark, sf_dir).count()

    clock_min("link_pipeline", run_pipeline)
    detail["clusters"] = float(n_clusters[0])

    # q2: documents blocking + salted candidate pairs (cache pairs for q3),
    # best-of-2 full rebuilds like q1 (clearCache between, so each run pays
    # the whole blocking+join+materialization path — single-measured r02
    # runs absorbed first-touch page-cache/codegen costs of up to 4x on a
    # thermally-loaded host; the warm floor is the steady-state number)
    from pyspark import StorageLevel

    def build_pairs(src: str):
        norm = normalize(docs_as_code_files(spark, src), prefix_len=_PREFIX)
        # hot_threshold low enough that the big length-band blocks route
        # through the lossless triangle-salted join — the skew path is part
        # of the bench
        slim_pairs = candidate_pairs(
            exploded_blocks(norm, len_band=_LEN_BAND).persist(),
            hot_threshold=50,
        )
        # MEMORY_AND_DISK_DESER with an explicit count(): the projection is
        # two 64-char columns (~50 MB at sf0.1), so materialization cannot
        # be evicted mid-bench; the count IS the honest pair-generation time.
        return attach_pair_payload(slim_pairs, norm, ["content_prefix"]).select(
            "content_prefix_a", "content_prefix_b"
        ).persist(StorageLevel.MEMORY_AND_DISK_DESER)

    state: dict = {}

    def run_pairs() -> None:
        spark.catalog.clearCache()
        state["pairs"] = build_pairs(sf_dir)
        state["n"] = state["pairs"].count()

    clock_min("doc_block_pairs", run_pairs)
    pairs, n_pairs = state["pairs"], state["n"]
    detail["candidate_pairs"] = float(n_pairs)

    # q2b: Arrow round-trip floor (reference noop, src/noop.cpp:1-8).
    # Guard against the r01 anomaly (arrow_noop == doc_block_pairs: the noop
    # floor silently re-ran pair generation): assert the executed plan reads
    # the in-memory cache, and record the check in detail.
    from levenshtein_spark.functions.distance import noop

    noop_q = pairs.select(noop("content_prefix_a", "content_prefix_b").alias("d")).agg(
        F.sum("d")
    )
    plan = noop_q._jdf.queryExecution().executedPlan().toString()
    if "InMemoryTableScan" not in plan:
        raise RuntimeError("arrow_noop plan does not read the pairs cache — bench invalid")
    detail["noop_reads_cache"] = 1.0
    clock_min("arrow_noop", noop_q.collect)

    # q3: vectorized banded-OSA kernel over content prefixes
    def score() -> int:
        return (
            pairs.select(
                bounded_edit_dist_t("content_prefix_a", "content_prefix_b", 8).alias("d")
            )
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    clock_min("osa_scoring", score)
    detail["scored_pairs_per_sec"] = round(n_pairs / max(times["osa_scoring"], 1e-9), 1)

    # Kernel instrumentation (reference CAPTURE_METRICS analogue,
    # tests/metrics.hpp:8-17): run the kernel driver-side over a sample of
    # the same pairs with counters on, so claims like "the counting bound
    # kills most DPs" are measured numbers, not folklore. Also yields the
    # single-core kernel throughput that BENCH/native_baseline.json compares
    # against DuckDB's C++ kernels.
    from levenshtein_spark import kernel as _kernel

    sample = pairs.limit(100_000).collect()
    ka = [r.content_prefix_a for r in sample]
    kb = [r.content_prefix_b for r in sample]
    # timing passes run with counters OFF (apples-to-apples with
    # tools/bench_native_baseline.py); a separate untimed pass collects them
    k_secs = float("inf")
    for _ in range(2):  # best-of-2: host clock drifts (BENCH/BASELINE.md)
        t0 = time.perf_counter()
        _kernel.batch_edit_distance(ka, kb, k=8)
        k_secs = min(k_secs, time.perf_counter() - t0)
    _kernel.enable_stats(True)
    _kernel.batch_edit_distance(ka, kb, k=8)
    kstats = _kernel.stats_snapshot()
    _kernel.enable_stats(False)
    detail["kernel_1core_pairs_per_sec"] = round(len(ka) / max(k_secs, 1e-9), 1)
    for key in ("pairs", "exit_identical", "exit_ldiff", "hist_pairs", "hist_kills",
                "dp_pairs", "dp_cells", "trim_collapsed", "doubling_rounds"):
        detail[f"kernel_{key}"] = float(kstats[key])
    pairs.unpersist()

    # q4: closest-match arg-min aggregation, best-of-2 (stateless query)
    clock_min("closest_match", lambda: q_min_edit_dist(spark, sf_dir).count())

    # sf1 phase (round 3, VERDICT r02 #8): the same shuffle-heavy headline
    # trio at 10× the sf0.1 corpus (150k customers / 50k documents,
    # synthesized deterministically — no sf1 testdata ships in the sandbox),
    # so round-over-round comparisons exist at a scale where shuffle cost is
    # visible. Recorded under a separate "sf1" key; "value" stays the sf0.1
    # total per the stable-bench-set rule. Single-run (not best-of-2) to
    # bound bench wall time; disable with SPARK_GRAFT_SF1=0.
    sf1: dict = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "1":
        sf1_dir = _ensure_sf1_corpus(spark, sf_dir)
        sf1_times: dict[str, float] = {}

        def clock1(name: str, fn, clear: bool = True) -> None:
            # clear=False for stages that deliberately time against a cache
            # a previous stage built (clearCache would drop pairs1 and the
            # timed window would silently re-run the whole pair pipeline —
            # the r01 arrow_noop anomaly class)
            if clear:
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            sf1_times[name] = round(time.perf_counter() - t0, 3)
            release_caches()  # the query is fully materialized

        n1 = [0]
        clock1("link_pipeline", lambda: n1.__setitem__(0, flagship_clusters(spark, sf1_dir).count()))
        sf1["clusters"] = float(n1[0])

        def run_pairs_sf1() -> None:
            state["pairs1"] = build_pairs(sf1_dir)
            state["n1"] = state["pairs1"].count()

        clock1("doc_block_pairs", run_pairs_sf1)
        sf1["candidate_pairs"] = float(state["n1"])

        def score_direct() -> None:
            scored = state["pairs1"].select(
                bounded_edit_dist_t("content_prefix_a", "content_prefix_b", 8).alias("d")
            ).agg(F.sum("d"))
            # same guard as the sf0.1 noop: the timed plan must READ the
            # pair cache, not rebuild the blocking pipeline
            plan = scored._jdf.queryExecution().executedPlan().toString()
            sf1["scoring_reads_cache"] = float("InMemoryTableScan" in plan)
            state["sum_direct"] = scored.collect()[0][0]

        clock1("osa_scoring", score_direct, clear=False)

        # Memoized twin (operators/scoring.py score_pairs(memoize=True)
        # evaluation shape): the 10-deep clone sets make many candidate
        # pairs carry IDENTICAL payloads, so score one representative per
        # distinct (a, b) and weight by multiplicity. Same Σd — asserted.
        # Single-shot timing here is drift-exposed like every sf1 number;
        # the retired controlled regime record (build/score split, k=8 vs
        # k=64; 3.0x at k=8) is 08a9d5d:BENCH/memoize_regimes.json.
        def score_memoized() -> None:
            grouped = (
                state["pairs1"]
                .groupBy("content_prefix_a", "content_prefix_b")
                .agg(F.count("*").alias("cnt"))
                .persist()
            )
            state["memo_distinct"] = grouped.count()
            state["sum_memo"] = (
                grouped.select(
                    (
                        bounded_edit_dist_t("content_prefix_a", "content_prefix_b", 8)
                        * F.col("cnt")
                    ).alias("d")
                )
                .agg(F.sum("d"))
                .collect()[0][0]
            )
            grouped.unpersist()

        # clearCache in clock1 would drop pairs1 (the shared input); time
        # manually against the same cache the direct pass used
        t0 = time.perf_counter()
        score_memoized()
        sf1_times["osa_scoring_memoized"] = round(time.perf_counter() - t0, 3)
        if state["sum_memo"] != state["sum_direct"]:
            raise RuntimeError(
                f"memoized scoring diverged: {state['sum_memo']} != {state['sum_direct']}"
            )
        sf1["memo_distinct_pairs"] = float(state["memo_distinct"])
        sf1["memo_duplication_factor"] = round(state["n1"] / max(state["memo_distinct"], 1), 2)
        sf1["memo_sum_matches_direct"] = 1.0
        state["pairs1"].unpersist()
        sf1["scored_pairs_per_sec"] = round(
            state["n1"] / max(sf1_times["osa_scoring"], 1e-9), 1
        )
        sf1["queries"] = sf1_times
        # total stays the headline trio (stable-bench-set rule); the
        # memoized twin is an extra measured comparison, not a new member
        sf1["total"] = round(
            sum(v for q, v in sf1_times.items() if q in times), 3
        )
        sf1["scale_vs_sf01"] = {
            q: round(sf1_times[q] / max(times[q], 1e-9), 2)
            for q in sf1_times
            if q in times
        }
        # How to read scale_vs_sf01: link_pipeline is apples-to-apples (10×
        # rows of the same distribution → expect ~2-4× wall at fixed cores).
        # The documents trio is NOT: the 10-deep clone sets multiply the
        # candidate count ~100× (each family contributes C(10,2) intra pairs
        # on shared band keys — by design, the adversarial skew case), and
        # near-identical pairs defeat the kernel's counting-bound early exit
        # (they're true matches, so the banded DP must run), so per-pair
        # scoring cost is several times the sf0.1 mix's. Compare
        # candidate_pairs-normalized throughput across rounds, not raw wall.
        sf1["pairs_scale_vs_sf01"] = round(
            state["n1"] / max(detail.get("candidate_pairs", 1.0), 1.0), 1
        )

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "bench_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                # host-clock normalizer, promoted to the headline (VERDICT
                # r04 item 7): the single-core kernel rate on a fixed pair
                # mix. Cross-round wall comparisons divide by this first —
                # r03's apparent 2x regression was entirely this number
                # moving (187k -> 275k pairs/s across host states).
                "kernel_1core_pairs_per_sec": detail.get("kernel_1core_pairs_per_sec"),
                "detail": detail,
                "sf1": sf1,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
            }
        )
    )


if __name__ == "__main__":
    main()
