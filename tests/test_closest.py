"""Closest-match operators: arg-min aggregation + iterative deepening."""

from __future__ import annotations

import random

import pytest

from levenshtein_spark.oracle import ref_edit_distance
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


def _spark_key(c):
    """Spark's order of a string column: NULL first, then UTF-8 bytes."""
    return (c is not None, (c or "").encode())


def _oracle(probes, cands, k, transpositions=True):
    """Brute force: per distinct probe, min (distance, candidate in Spark
    order) over every candidate."""
    out = set()
    for q in set(probes):
        d, _, c = min(
            (ref_edit_distance(q, c, k, transpositions=transpositions), _spark_key(c), c)
            for c in cands
        )
        out.add((q, c, d))
    return out


@pytest.mark.parametrize("transpositions", [True, False])
@pytest.mark.parametrize("k", [0, 2, 6])
def test_best_per_probe_chunks_match_bruteforce(monkeypatch, k, transpositions):
    """The per-task scan with tiny chunks, so each probe's cap tightens many
    times and a chunk splits both the probes and the candidates: winners,
    distances and tie-breaks equal the brute force."""
    import pyarrow as pa

    from levenshtein_spark.operators import closest

    rng = random.Random(7 + k)
    alpha = "abcdé"
    probes = sorted(
        {"".join(rng.choice(alpha) for _ in range(rng.randint(0, 8))) for _ in range(40)}
    ) + [None]
    cands = [None, ""] + [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 10))) for _ in range(150)
    ]
    cands.sort(key=_spark_key)
    for chunk in (7, 37, 1000):
        monkeypatch.setattr(closest, "_CHUNK_PAIRS", chunk)
        dist, win = closest._best_per_probe(pa.array(probes), pa.array(cands), k, transpositions)
        got = {(q, cands[w], int(d)) for q, w, d in zip(probes, win, dist)}
        assert got == _oracle(probes, cands, k, transpositions), chunk


@pytest.mark.parametrize("transpositions", [True, False])
@pytest.mark.parametrize("k", [0, 3])
def test_operator_edge_cases_match_bruteforce(spark, k, transpositions):
    """NULL and empty probes and candidates, duplicate probes and
    candidates, ties that break on non-ASCII bytes (Spark's order is byte
    order), candidates arriving in one partition: the operator and the
    deepening equal the brute force."""
    cands = [
        None, "", "é", "e", "f", "ée", "ab", "ba", "abc", "abd", "abc", "zzzz", "Ā", "ÿ",
        "ab\u00e9",
    ]
    probes = [None, "", "", "e", "é", "ab", "ab", "ac", "abcd", "qqqqqqq", "ĀĀ"]
    cdf = spark.createDataFrame([(c,) for c in cands], "name string").coalesce(1)
    pdf = spark.createDataFrame([(q,) for q in probes], "q string")
    want = _oracle(probes, cands, k, transpositions)
    got = min_edit_dist_t(pdf, cdf, "q", "name", k, transpositions=transpositions).collect()
    assert len(got) == len(set(probes))
    assert {tuple(r) for r in got} == want
    deep = min_edit_dist_t_deepening(pdf, cdf, "q", "name", k, k0=1, transpositions=transpositions)
    assert {tuple(r) for r in deep.collect()} == want


def test_deepening_scores_pass_one_once(spark):
    """Both branches of the deepening come from one collected pass 1: the
    returned plan holds pass 2's scoring task only, so evaluating it never
    scores pass 1 again (a lazy pass 1 would be scored by the probe collect
    of pass 2 and again by the union)."""
    import re

    probes, cands = _fixtures(spark)
    deep = min_edit_dist_t_deepening(probes, cands, "q", "name", 6, k0=1)
    names = ["apple", "apples", "orange", "grape", "grapefruit"]
    assert {tuple(r) for r in deep.collect()} == _oracle(["appl", "grap", "zzzzzzzz"], names, 6)
    plan = deep._jdf.queryExecution().executedPlan().toString()
    assert len(set(re.findall(r"MapInArrow (\S+)", plan))) == 1, plan


def test_operator_empty_sides(spark):
    """Zero probes or zero candidates: no rows, and the result keeps the
    (probe, candidate, dist) schema."""
    cdf = spark.createDataFrame([("apple",), ("grape",)], "name string")
    pdf = spark.createDataFrame([("appl",)], "q string")
    none_c = cdf.where("false")
    none_p = pdf.where("false")
    for df in (
        min_edit_dist_t(none_p, cdf, "q", "name", 3),
        min_edit_dist_t(pdf, none_c, "q", "name", 3),
        min_edit_dist_t_deepening(none_p, cdf, "q", "name", 3, k0=1),
    ):
        assert df.collect() == []
        assert df.columns == ["q", "name", "dist"]


def test_operator_probes_across_chunks_few_candidates(spark):
    """More than one chunk of probes (50,001 probes x 1 candidate per task)
    and fewer candidates than cores, so most tasks are empty."""
    rng = random.Random(5)
    probes = ["".join(rng.choice("abc") for _ in range(rng.randint(0, 6))) for _ in range(50_001)]
    probes = list(dict.fromkeys(probes))
    while len(probes) <= 50_000:
        probes.append(f"p{len(probes)}")
    cands = ["abcab", "cab"]
    assert spark.sparkContext.defaultParallelism > len(cands)
    cdf = spark.createDataFrame([(c,) for c in cands], "name string")
    pdf = spark.createDataFrame([(q,) for q in probes], "q string")
    got = {tuple(r) for r in min_edit_dist_t(pdf, cdf, "q", "name", 2).collect()}
    assert got == _oracle(probes, cands, 2)


def test_negative_k_raises(spark):
    probes, cands = _fixtures(spark)
    with pytest.raises(ValueError):
        min_edit_dist_t(probes, cands, "q", "name", -1)


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
