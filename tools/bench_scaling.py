"""Scaling-efficiency evidence: the same job at two parallelism levels.

The north_rule's N vs 4N executor criterion cannot use a real cluster in
this sandbox, so (per the driver instruction) we run the identical scoring
job at two local[] parallelism levels on the same input and report
throughput at both plus scaling efficiency

    eff = (T_lo * lo) / (T_hi * hi)        (work-normalized, target >= 0.8)

Each run is a fresh spark-submit-style subprocess (fresh JVM + Python
workers) so neither run inherits the other's warm state. The measured job is
the heart of the pipeline: candidate-pair scoring with the Arrow-batched
banded-OSA kernel over the documents corpus, after a warm-up pass that
amortizes one-time Python-worker startup out of the measurement.

Two N->4N pairs are reported, because they probe different things:

* local[2] -> local[8] is the clean read on the PIPELINE's scaling: both
  levels sit far below this 32-vCPU KVM guest's saturation point, so the
  measurement isn't confounded by host-level effects a real N->4N executor
  fleet would never see.
* local[8] -> local[32] additionally saturates the guest. Two controls
  quantify the host ceiling there: the raw kernel under plain
  multiprocessing (no JVM, no Arrow) measured at the same core pairs, and
  a clock-throttle probe (one pinned single-thread kernel task timed on an
  idle host vs alongside 31 busy cores). Spark efficiency at 8->32 should
  be read against those ceilings, not against 1.0 — in local mode the
  task threads, Arrow writer threads, and Python workers also CO-LOCATE in
  one JVM/host (3 thread pools per core at local[32]), which a real
  multi-executor cluster never has.

Work size scales with the level pair (REP replicas of the 406k-pair sf0.1
candidate set, exploded JVM-side inside the measured job) so the low level
runs tens of seconds — compute-bound, not per-stage-overhead-bound.

Usage: python tools/bench_scaling.py [sf_dir]   (writes BENCH/scaling.json)
"""

from __future__ import annotations

import json
import os
import subprocess
import time
import sys

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["REPO"])
import pyspark.sql.functions as F
from levenshtein_spark.session import get_spark
from levenshtein_spark.driver_queries.linkage import _LEN_BAND, _PREFIX, docs_as_code_files
from levenshtein_spark.functions.distance import bounded_edit_dist_t
from levenshtein_spark.operators.blocking import exploded_blocks
from levenshtein_spark.operators.normalize import normalize
from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
from levenshtein_spark.session import warm_python_workers

cpus = int(sys.argv[1])
sf_dir = sys.argv[2]
rep = int(sys.argv[3])
n_runs = int(sys.argv[4])
n_parts = int(sys.argv[5])
spark = get_spark(f"scaling_{cpus}", master=f"local[{cpus}]")
warm_python_workers(spark)

norm = normalize(docs_as_code_files(spark, sf_dir), prefix_len=_PREFIX)
slim = candidate_pairs(
    exploded_blocks(norm, len_band=_LEN_BAND), hot_threshold=50
)
# Persist the UNreplicated pair set (406k rows); the measured job explodes
# it JVM-side by `rep` so the Arrow transfer + kernel work — the real
# scoring cost — dominates while the cache stays small.
pairs = (
    attach_pair_payload(slim, norm, ["content_prefix"])
    .select("content_prefix_a", "content_prefix_b")
    .repartition(n_parts)
    .persist()
)
n_base = pairs.count()
n_pairs = n_base * rep

def job():
    return (
        pairs.withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(rep))))
        .select(bounded_edit_dist_t("content_prefix_a", "content_prefix_b", 8).alias("d"))
        .agg(F.sum("d")).collect()[0][0]
    )

job()  # warm-up: Python worker fork + import + cache-read cost paid here
times = []
for _ in range(n_runs):
    t0 = time.perf_counter(); job(); times.append(time.perf_counter() - t0)
best = min(times)
print(json.dumps({"cpus": cpus, "pairs": n_pairs, "sec": round(best, 3),
                  "all_runs_sec": [round(t, 2) for t in times],
                  "pairs_per_sec": round(n_pairs / best, 1)}))
"""


def run(cpus: int, sf_dir: str, rep: int, n_runs: int, n_parts: int) -> dict:
    env = dict(os.environ, REPO=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(cpus), sf_dir, str(rep), str(n_runs),
         str(n_parts)],
        capture_output=True, text=True, env=env, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _mp_work(seed: int) -> float:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import numpy as np

    from levenshtein_spark.kernel import batch_edit_distance

    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghij "))
    a = ["".join(rng.choice(letters, 40)) for _ in range(25000)]
    b = [s[:20] + "x" + s[21:] for s in a]
    t0 = time.perf_counter()
    batch_edit_distance(a, b, k=8)
    return time.perf_counter() - t0


def _kernel_mp_scaling(lo: int, hi: int) -> dict:
    """Control: the raw NumPy kernel under plain multiprocessing (no JVM).

    Separates kernel scalability from single-JVM local-mode co-location
    artifacts and exposes the host's own parallel ceiling at each pair."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    results = {}
    for nproc in (lo, hi):
        with ctx.Pool(nproc) as pool:
            t0 = time.perf_counter()
            pool.map(_mp_work, range(32))
            results[nproc] = round(time.perf_counter() - t0, 2)
    eff = (results[lo] * lo) / (results[hi] * hi)
    return {f"wall_{lo}": results[lo], f"wall_{hi}": results[hi],
            "efficiency": round(eff, 3)}


def _spin(stop_path: str) -> None:
    import numpy as np

    a = np.random.default_rng(0).integers(0, 255, 1 << 20).astype(np.uint8)
    while not os.path.exists(stop_path):
        (a + 1).sum()


def _clock_throttle_control() -> dict:
    """One single-thread kernel task, timed idle vs alongside 31 busy cores.

    Quantifies how much per-core throughput this guest loses when all
    cores are active (frequency scaling / SMT / hypervisor steal) — the
    ceiling any 32-core-saturating measurement inherits."""
    import multiprocessing as mp
    import tempfile

    idle = min(_mp_work(0) for _ in range(3))
    ctx = mp.get_context("spawn")
    stop = os.path.join(tempfile.mkdtemp(), "stop")
    procs = [ctx.Process(target=_spin, args=(stop,), daemon=True) for _ in range(31)]
    for p in procs:
        p.start()
    time.sleep(1.0)  # let the spinners reach steady state
    try:
        loaded = min(_mp_work(0) for _ in range(3))
    finally:
        with open(stop, "w"):
            pass
        for p in procs:
            p.join(timeout=10)
    return {"single_thread_sec_idle": round(idle, 3),
            "single_thread_sec_under_31core_load": round(loaded, 3),
            "per_core_clock_factor": round(idle / loaded, 3)}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    result = {"sf_dir": sf_dir, "pairs": {}}
    # (lo, hi, REP, runs_lo, runs_hi): REP sized so the lo run is
    # compute-bound (tens of seconds); more repeats where runs are cheap.
    # Partition count is IDENTICAL at both levels (3 tasks/core at the
    # high level — the standard cluster sizing), so the two levels execute
    # the same physical plan and differ only in parallelism, exactly the
    # N vs 4N semantics. 4×cpus partitioning (the previous method) gave
    # the low level coarser tasks and understated efficiency.
    for lo, hi, rep, runs_lo, runs_hi in ((2, 8, 16, 3, 6), (8, 32, 64, 3, 6)):
        n_parts = 3 * hi
        r_lo = run(lo, sf_dir, rep, runs_lo, n_parts)
        r_hi = run(hi, sf_dir, rep, runs_hi, n_parts)
        eff = (r_lo["sec"] * lo) / (r_hi["sec"] * hi)
        result["pairs"][f"local[{lo}]->local[{hi}]"] = {
            "low": r_lo, "high": r_hi, "scaling_efficiency": round(eff, 3),
        }
    result["kernel_multiprocessing_control"] = {
        "2->8": _kernel_mp_scaling(2, 8),
        "8->32": _kernel_mp_scaling(8, 32),
    }
    result["clock_throttle_control"] = _clock_throttle_control()
    result["method"] = (
        "same scoring job, fresh JVM per parallelism level, warm workers, "
        "best of n_runs; eff = (T_lo*lo)/(T_hi*hi). The 2->8 pair is the "
        "clean pipeline read (both levels below host saturation); 8->32 "
        "saturates the guest and must be read against the two controls: "
        "raw-kernel multiprocessing efficiency at the same core pair, and "
        "the per-core clock factor under full load."
    )
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/scaling.json", "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
