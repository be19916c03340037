"""Closest-match operators: arg-min aggregation + iterative deepening."""

from __future__ import annotations

import random

import pytest

from levenshtein_spark.operators.closest import (
    _spread_cross,
    min_edit_dist_t,
    min_edit_dist_t_deepening,
    min_similarity_t,
    top_k_matches,
)


def _fixtures(spark):
    cands = spark.createDataFrame(
        [("apple",), ("apples",), ("orange",), ("grape",), ("grapefruit",)],
        "name string",
    )
    probes = spark.createDataFrame([("appl",), ("grap",), ("zzzzzzzz",)], "q string")
    return probes, cands


def test_min_edit_dist_t_matches_bruteforce(spark):
    probes, cands = _fixtures(spark)
    got = {r.q: (r.name, r.dist) for r in min_edit_dist_t(probes, cands, "q", "name", 6).collect()}
    assert got["appl"] == ("apple", 1)
    assert got["grap"] == ("grape", 1)
    # zzzzzzzz: every candidate > 6 edits away -> k_eff+1 with name-asc tie
    assert got["zzzzzzzz"][1] == 7


def test_deepening_equals_single_pass(spark):
    probes, cands = _fixtures(spark)
    single = {tuple(r) for r in min_edit_dist_t(probes, cands, "q", "name", 6).collect()}
    deep = {tuple(r) for r in min_edit_dist_t_deepening(probes, cands, "q", "name", 6, k0=1).collect()}
    assert single == deep


def test_min_similarity_t_argmax(spark):
    probes, cands = _fixtures(spark)
    got = {r.q: r.name for r in min_similarity_t(probes, cands, "q", "name", 0.3).collect()}
    assert got["appl"] == "apple"
    assert got["grap"] == "grape"


def test_top_k_matches_ranked(spark):
    probes, cands = _fixtures(spark)
    rows = top_k_matches(probes, cands, "q", "name", 6, top=2).collect()
    by_probe = {}
    for r in rows:
        by_probe.setdefault(r.q, []).append((r.rn, r.name))
    assert sorted(by_probe["appl"]) == [(1, "apple"), (2, "apples")]
    assert len(by_probe["grap"]) == 2


def test_cross_join_spread_over_cores(spark):
    """Candidates arriving in one partition are scored in defaultParallelism
    partitions by every operator, and every operator returns the brute-force
    answer: the spread moves rows between tasks, never changes them."""
    from levenshtein_spark.oracle import ref_edit_distance, ref_similarity

    rng = random.Random(3)
    names = sorted({"".join(rng.choice("abcd") for _ in range(rng.randint(2, 8))) for _ in range(60)})
    qs = ["abca", "dddd", "bacdab", "zz"]
    cands = spark.createDataFrame([(c,) for c in names], "name string").coalesce(1)
    probes = spark.createDataFrame([(q,) for q in qs], "q string")
    n = spark.sparkContext.defaultParallelism

    assert _spread_cross(probes, cands, "name").rdd.getNumPartitions() == n
    ops = {
        "min_edit_dist_t": min_edit_dist_t(probes, cands, "q", "name", 3),
        "deepening": min_edit_dist_t_deepening(probes, cands, "q", "name", 3, k0=1),
        "min_similarity_t": min_similarity_t(probes, cands, "q", "name", 0.4),
        "top_k_matches": top_k_matches(probes, cands, "q", "name", 3, top=3),
    }
    for name, df in ops.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert f"RoundRobinPartitioning({n})" in plan, name

    dist = {q: sorted((ref_edit_distance(q, c, 3), c) for c in names) for q in qs}
    want = {(q, d[0][1], d[0][0]) for q, d in dist.items()}
    assert {tuple(r) for r in ops["min_edit_dist_t"].collect()} == want
    assert {tuple(r) for r in ops["deepening"].collect()} == want
    assert {(r.q, r.name, r.dist, r.rn) for r in ops["top_k_matches"].collect()} == {
        (q, c, dv, i + 1) for q, d in dist.items() for i, (dv, c) in enumerate(d[:3])
    }
    got = {r.q: (r.name, r.sim) for r in ops["min_similarity_t"].collect()}
    for q in qs:
        sims = {c: ref_similarity(q, c, 0.4) for c in names}
        top = max(sims.values())
        assert got[q] == (min(c for c in names if sims[c] == top), pytest.approx(top)), q


def test_adaptive_kernel_argmin_exact():
    """batch_closest_distance's contract: per-probe arg-min (value AND every
    row achieving it) identical to the plain bounded kernel; losing rows
    never report a value at or below the probe's true minimum. Random
    corpus, tiny sub-chunks so the cap actually tightens mid-batch."""
    import random

    import numpy as np

    from levenshtein_spark.kernel import batch_closest_distance, batch_edit_distance

    rng = random.Random(7)
    alpha = "abcdef"
    probes = ["".join(rng.choice(alpha) for _ in range(rng.randint(3, 10))) for _ in range(5)]
    cands = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 12))) for _ in range(400)]
    for k in (2, 6, None):
        a = [p for p in probes for _ in cands]
        b = [c for _ in probes for c in cands]
        exact = batch_edit_distance(a, b, k=k, transpositions=True)
        adapt = batch_closest_distance(a, b, k=k, transpositions=True, chunk=37)
        ex = np.asarray(exact).reshape(len(probes), len(cands))
        ad = np.asarray(adapt).reshape(len(probes), len(cands))
        for pi in range(len(probes)):
            m = ex[pi].min()
            assert ad[pi].min() == m
            # every true-min row is exact; every other row stays above min
            assert (ad[pi][ex[pi] == m] == m).all()
            assert (ad[pi][ex[pi] != m] > m).all()


def test_adaptive_matches_plain_in_operator(spark):
    """min_edit_dist_t (adaptive scoring path) returns the identical result
    to a verbatim-scoring run via a custom dist_fn."""
    from levenshtein_spark.functions.distance import bounded_edit_dist_t

    probes, cands = _fixtures(spark)

    def verbatim(a, b, k):  # not in _ADAPTIVE_TWIN -> scores every row fully
        return bounded_edit_dist_t(a, b, k)

    fast = {tuple(r) for r in min_edit_dist_t(probes, cands, "q", "name", 6).collect()}
    slow = {
        tuple(r)
        for r in min_edit_dist_t(probes, cands, "q", "name", 6, dist_fn=verbatim).collect()
    }
    assert fast == slow


def test_adaptive_similarity_argmax_exact():
    """batch_closest_similarity: per-probe arg-max (value AND ties) equals
    the plain kernel; losing rows never report a value at or above the
    probe's true max; with no candidate reaching p the outputs are
    bit-identical to the plain kernel."""
    import random

    import numpy as np

    from levenshtein_spark.kernel import batch_closest_similarity, batch_similarity

    rng = random.Random(19)
    alpha = "abcde"
    probes = ["".join(rng.choice(alpha) for _ in range(rng.randint(3, 9))) for _ in range(4)]
    cands = ["".join(rng.choice(alpha) for _ in range(rng.randint(1, 11))) for _ in range(300)]
    a = [p for p in probes for _ in cands]
    b = [c for _ in probes for c in cands]
    for p in (0.3, 0.6, 0.95):
        exact = np.asarray(batch_similarity(a, b, p)).reshape(len(probes), len(cands))
        adapt = np.asarray(
            batch_closest_similarity(a, b, p, chunk=41)
        ).reshape(len(probes), len(cands))
        for pi in range(len(probes)):
            m = exact[pi].max()
            assert adapt[pi].max() == m
            assert (adapt[pi][exact[pi] == m] == m).all()
            assert (adapt[pi][exact[pi] != m] < m).all()
    # p high enough that nothing matches: outputs identical to plain
    exact = batch_similarity(a, b, 0.999)
    adapt = batch_closest_similarity(a, b, 0.999, chunk=41)
    assert (np.asarray(exact) == np.asarray(adapt)).all()
