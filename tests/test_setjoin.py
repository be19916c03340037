"""AllPairs prefix-filter set-similarity join: losslessness vs brute force,
threshold edge cases, and the rational integer-verify discipline."""

from __future__ import annotations

import itertools
import random

import pyspark.sql.functions as F
import pytest

from levenshtein_spark.operators.setjoin import set_similarity_self_join



# Heavy module (multi-second Spark jobs / hypothesis sweeps): excluded
# from the fast gate `pytest -m "not slow"` (README: Testing).
pytestmark = pytest.mark.slow

def _brute(rows, t_num, t_den):
    """Expected (id_a, id_b, inter, uni) via Python set math."""
    sets = {i: set(toks) for i, toks in rows if toks}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if inter * t_den >= t_num * uni:
            out.add((a, b, inter, uni))
    return out


def _run(spark, rows, t_num, t_den, **kw):
    df = spark.createDataFrame(rows, "id long, toks array<string>")
    got = set_similarity_self_join(df, F.col("toks"), t_num, t_den, **kw)
    return {
        (r.id_a, r.id_b, r.inter, r.uni)
        for r in got.select("id_a", "id_b", "inter", "uni").collect()
    }


def _rand_rows(n, vocab, max_size, seed):
    rng = random.Random(seed)
    return [
        (i, rng.sample(vocab, rng.randint(0, min(max_size, len(vocab)))))
        for i in range(n)
    ]


def test_lossless_vs_brute_force(spark):
    vocab = [f"t{i}" for i in range(40)]
    rows = _rand_rows(120, vocab, 12, seed=13)
    # plant near-dup pairs (high overlap) so the qualifying set is non-empty
    rows += [(1000, vocab[:10]), (1001, vocab[:9] + [vocab[11]]), (1002, vocab[:10])]
    for t_num, t_den in [(1, 2), (3, 5), (4, 5), (1, 1)]:
        assert _run(spark, rows, t_num, t_den) == _brute(rows, t_num, t_den), (
            t_num,
            t_den,
        )


def test_exact_equality_threshold(spark):
    # t = 1/1: only identical sets qualify; prefix shrinks to the single
    # rarest token and must still be lossless
    rows = [
        (1, ["a", "b", "c"]),
        (2, ["c", "a", "b"]),   # same set, different order/dupes below
        (3, ["a", "b", "c", "c"]),
        (4, ["a", "b"]),
    ]
    got = _run(spark, rows, 1, 1)
    assert got == {(1, 2, 3, 3), (1, 3, 3, 3), (2, 3, 3, 3)}


def test_empty_sets_excluded(spark):
    rows = [(1, []), (2, []), (3, ["x"]), (4, ["x"])]
    got = _run(spark, rows, 1, 2)
    assert got == {(3, 4, 1, 1)}


def test_hot_shared_token_family(spark):
    # every set shares one corpus-wide token; frequency-ascending ordering
    # must keep it OUT of prefixes wherever rarer tokens exist, and the
    # result must still equal brute force
    vocab = [f"r{i}" for i in range(60)]
    rng = random.Random(5)
    rows = [
        (i, ["boiler"] + rng.sample(vocab, rng.randint(1, 6))) for i in range(150)
    ]
    assert _run(spark, rows, 1, 2, hot_threshold=50) == _brute(
        rows, 1, 2
    )


def test_rejects_bad_threshold(spark):
    df = spark.createDataFrame([(1, ["a"])], "id long, toks array<string>")
    with pytest.raises(ValueError):
        set_similarity_self_join(df, F.col("toks"), 0, 5)
    with pytest.raises(ValueError):
        set_similarity_self_join(df, F.col("toks"), 6, 5)


# ---------------------------------------------------------------------------
# containment join
# ---------------------------------------------------------------------------
def _brute_containment(rows, t_num, t_den):
    sets = {i: set(toks) for i, toks in rows if toks}
    out = set()
    for a in sets:
        for b in sets:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            if inter * t_den >= t_num * len(sets[a]):
                out.add((a, b, inter, len(sets[a])))
    return out


def _run_containment(spark, rows, t_num, t_den, **kw):
    from levenshtein_spark.operators.setjoin import set_containment_join

    df = spark.createDataFrame(rows, "id long, toks array<string>")
    got = set_containment_join(df, F.col("toks"), t_num, t_den, **kw)
    return {
        (r.id_inner, r.id_outer, r.inter, r.n_inner)
        for r in got.select("id_inner", "id_outer", "inter", "n_inner").collect()
    }


def test_containment_lossless_vs_brute_force(spark):
    vocab = [f"t{i}" for i in range(40)]
    rows = _rand_rows(100, vocab, 10, seed=21)
    # plant: 2000 fully inside 2001 (quote), 2002 mostly inside 2001
    rows += [
        (2000, vocab[:4]),
        (2001, vocab[:20]),
        (2002, vocab[2:8] + ["zz"]),
    ]
    for t_num, t_den in [(9, 10), (1, 1), (1, 2)]:
        assert _run_containment(spark, rows, t_num, t_den) == _brute_containment(
            rows, t_num, t_den
        ), (t_num, t_den)


def test_containment_is_asymmetric(spark):
    rows = [(1, ["a", "b"]), (2, ["a", "b", "c", "d", "e", "f"])]
    got = _run_containment(spark, rows, 1, 1)
    assert got == {(1, 2, 2, 2)}  # 1 ⊂ 2, never 2 ⊂ 1
