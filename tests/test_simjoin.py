"""Similarity-threshold self-join: lossless log-length banding + exactness
vs the scalar reference oracle."""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from levenshtein_spark.operators.simjoin import log_length_bands, similarity_self_join
from levenshtein_spark.oracle import ref_similarity

from tests.gen import apply_edits, random_word



# Heavy module (multi-second Spark jobs / hypothesis sweeps): excluded
# from the fast gate `pytest -m "not slow"` (README: Testing).
pytestmark = pytest.mark.slow

def test_log_bands_cover_every_ratio_bounded_pair():
    """Arithmetic property behind losslessness: any (la, lb) with
    min >= p*max shares >= 1 of the exploded (band, band+1) keys."""
    p = 0.7
    base = math.log(1.0 / p)

    def keys(n):
        if n <= 0:
            return {"empty"}
        b = math.floor(math.log(n) / base)
        return {b, b + 1}

    rng = np.random.default_rng(0)
    for _ in range(20000):
        la = int(rng.integers(1, 5000))
        lb = int(rng.integers(max(1, int(la * p)), int(la / p) + 1))
        if min(la, lb) >= p * max(la, lb):
            assert keys(la) & keys(lb), (la, lb)
    assert keys(0) & keys(0)


def test_similarity_self_join_matches_bruteforce(spark):
    """Blocked join == brute-force sim >= p over a variable-length corpus
    (mangles at several length scales so multiple bands and the cross-band
    explode both matter)."""
    rng = np.random.default_rng(11)
    rows = []
    rid = 0
    for wl in (6, 12, 25, 60, 130):
        for _ in range(8):
            base = random_word(rng, wl)
            rows.append((rid, base))
            rid += 1
            rows.append((rid, apply_edits(rng, base, int(rng.integers(1, 3)), "substitute")))
            rid += 1
    p = 0.7
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        (r.id_a, r.id_b): round(r.sim, 9)
        for r in similarity_self_join(df, "text", p, hot_threshold=20).collect()
    }
    exp = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            s = ref_similarity(ta, tb, p)
            if s >= p:
                exp[(ia, ib)] = round(s, 9)
    assert got == exp
    assert len(exp) >= len(rows) // 3  # the corpus genuinely has matches


def test_log_bands_rejects_bad_p():
    import pyspark.sql.functions as F

    with pytest.raises(ValueError):
        log_length_bands(F.lit(5), 1.0)


def _brute_pairs(rows, k, dist):
    exp = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            d = dist(ta, tb)
            if d <= k:
                exp[(ia, ib)] = d
    return exp


def test_edit_distance_self_join_matches_bruteforce_levenshtein(spark):
    """Ed-Join prefix-filter candidates + verification == brute force, on a
    corpus that stresses every regime: strings below the short-block
    threshold (len < k*q + q), mid-length near-dups with each edit type,
    identical strings, and a hot block of strings sharing rare grams."""
    from levenshtein_spark.operators.simjoin import edit_distance_self_join
    from levenshtein_spark.oracle import levenshtein_matrix

    rng = np.random.default_rng(7)
    rows, rid = [], 0
    for wl in (2, 4, 7, 12, 30, 60):
        for _ in range(6):
            base = random_word(rng, wl)
            rows.append((rid, base)); rid += 1
            for op in ("substitute", "delete", "insert"):
                rows.append((rid, apply_edits(rng, base, int(rng.integers(1, 4)), op)))
                rid += 1
    rows.append((rid, "")); rid += 1          # empty string
    rows.append((rid, "")); rid += 1          # duplicate empty
    rows.append((rid, rows[0][1])); rid += 1  # exact duplicate
    k, q = 2, 3
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_self_join(
            df, "text", k=k, q=q, hot_threshold=20
        ).collect()
    }
    exp = _brute_pairs(
        rows, k, lambda a, b: levenshtein_matrix(a.encode(), b.encode())
    )
    assert got == exp
    assert len(exp) >= 10  # non-vacuous


def test_edit_distance_self_join_matches_bruteforce_osa(spark):
    """Transpositions mode: per-edit gram damage rises to q+1 (a swap
    touches q+1 grams), so the prefix widens — pinned against the OSA
    full-matrix oracle including planted adjacent swaps."""
    from levenshtein_spark.operators.simjoin import edit_distance_self_join
    from levenshtein_spark.oracle import osa_matrix

    rng = np.random.default_rng(13)
    rows, rid = [], 0
    for wl in (3, 8, 20, 40):
        for _ in range(8):
            base = random_word(rng, wl)
            rows.append((rid, base)); rid += 1
            rows.append((rid, apply_edits(rng, base, int(rng.integers(1, 3)), "transpose")))
            rid += 1
    k, q = 2, 2
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_self_join(
            df, "text", k=k, q=q, transpositions=True, hot_threshold=20
        ).collect()
    }
    exp = _brute_pairs(rows, k, lambda a, b: osa_matrix(a.encode(), b.encode()))
    assert got == exp
    assert len(exp) >= 8


def test_edit_distance_self_join_rejects_bad_params(spark):
    from levenshtein_spark.operators.simjoin import edit_distance_self_join

    df = spark.createDataFrame([(0, "x")], "id long, text string")
    with pytest.raises(ValueError):
        edit_distance_self_join(df, "text", k=-1)
    with pytest.raises(ValueError):
        edit_distance_self_join(df, "text", k=1, q=0)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAS_HYPOTHESIS = False

if HAS_HYPOTHESIS:

    @settings(max_examples=10, deadline=None)
    @given(
        texts=st.lists(st.text(min_size=0, max_size=14), min_size=2, max_size=25),
        k=st.integers(min_value=0, max_value=3),
        q=st.integers(min_value=1, max_value=4),
    )
    def test_edjoin_hypothesis_unicode(spark, texts, k, q):
        """Arbitrary unicode corpora: the prefix-filter join must equal
        brute force under the BYTE-based kernel even though the q-grams and
        the short-block threshold are codepoint-based — valid because byte
        edits >= codepoint edits, so byte-dist <= k implies codepoint-gram
        damage <= k*q and the count-filter lemma still binds."""
        from levenshtein_spark.operators.simjoin import edit_distance_self_join
        from levenshtein_spark.oracle import levenshtein_matrix

        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "id long, text string")
        got = {
            (r.id_a, r.id_b): r.dist
            for r in edit_distance_self_join(
                df, "text", k=k, q=q, hot_threshold=10
            ).collect()
        }
        exp = {}
        for i, (ia, ta) in enumerate(rows):
            for ib, tb in rows[i + 1 :]:
                d = levenshtein_matrix(ta.encode(), tb.encode())
                if d <= k:
                    exp[(ia, ib)] = d
        assert got == exp


def test_similarity_prefix_boundary_values():
    from levenshtein_spark.operators.simjoin import similarity_prefix_boundary

    # p too low for the damage factor ((1-p)*D >= 1) -> vacuous, pure banding
    assert similarity_prefix_boundary(0.6, 3, transpositions=False) is None  # D=3
    assert similarity_prefix_boundary(0.6, 2, transpositions=True) is None  # D=3
    b = similarity_prefix_boundary(0.7, 2, transpositions=False)  # D=2, slack 0.4
    assert 6 <= b <= 8  # ~q/slack + rounding margin; exact ulp is immaterial
    assert similarity_prefix_boundary(0.9, 3, transpositions=True) is not None


def test_similarity_join_uniform_length_corpus(spark):
    """Round-3 pin (VERDICT r02 #2): on a UNIFORM-length corpus pure length
    banding is one giant band (every pair a candidate). The rarest-q-gram
    prefix family must (a) stay exact vs brute force, (b) cut the candidate
    mass well below the all-pairs count."""
    import itertools

    from levenshtein_spark.functions.distance import bounded_edit_dist
    from levenshtein_spark.operators.pairs import candidate_pairs
    from levenshtein_spark.operators.simjoin import (
        similarity_candidate_blocks,
        similarity_self_join,
    )

    # 80 strings, ALL exactly 24 chars: 8 families of near-dups + filler.
    # Content is md5-derived, not a formula: alphabet-run generators
    # (chr(ord('a')+(fam*7+j)%26)) make every family a rotation of the SAME
    # repeating alphabet, so unrelated families genuinely share most of
    # their gram content — an artifact of the toy generator, not the
    # uniform-length case this test pins.
    import hashlib

    def _chars(seed: str, n: int) -> str:
        out = []
        ctr = 0
        while len(out) < n:
            for byte in hashlib.md5(f"{seed}:{ctr}".encode()).digest():
                out.append(chr(ord("a") + byte % 26))
            ctr += 1
        return "".join(out[:n])

    rng_words = []
    for fam in range(8):
        base = f"family{fam:02d}_" + _chars(f"fam{fam}", 15)
        assert len(base) == 24
        rng_words.append(base)
        for v in range(3):  # 1-char variants (high similarity)
            mut = list(base)
            mut[12 + v] = chr(ord("a") + (fam + v + 13) % 26)
            rng_words.append("".join(mut))
    for i in range(80 - len(rng_words)):  # dissimilar filler, same length
        rng_words.append(f"zz{i:03d}" + _chars(f"fill{i}", 19))
    assert all(len(w) == 24 for w in rng_words)
    df = spark.createDataFrame(list(enumerate(rng_words)), "id long, text string")

    p = 0.85

    def lev_sim(a, b):
        m = F.greatest(F.octet_length(a), F.octet_length(b))
        k = F.floor(F.lit(1.0 - p) * m).cast("long")
        dist = bounded_edit_dist(a, b, k)
        return F.when(m == 0, F.lit(1.0)).otherwise(
            F.greatest(F.lit(0.0), F.lit(1.0) - dist / m)
        )

    got = {
        (r.id_a, r.id_b)
        for r in similarity_self_join(
            df, "text", p, sim_fn=lev_sim, q=2, transpositions=False,
            hot_threshold=20,
        ).collect()
    }

    def lev(a, b):
        la, lb = len(a), len(b)
        dp = list(range(lb + 1))
        for i in range(1, la + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, lb + 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return dp[lb]

    want = set()
    for (i, a), (j, b) in itertools.combinations(enumerate(rng_words), 2):
        m = max(len(a), len(b))
        if 1.0 - lev(a, b) / m >= p:
            want.add((min(i, j), max(i, j)))
    assert got == want and len(want) >= 8 * 6  # every family pair found

    # candidate-mass census: the all-pairs count is 80*79/2 = 3160 (what
    # one giant length band produces); the content-keyed blocking must
    # generate a small fraction of it
    blocks = similarity_candidate_blocks(df, "text", p, q=2, transpositions=False)
    n_cand = candidate_pairs(blocks, hot_threshold=20).count()
    assert n_cand < 3160 * 0.3, f"{n_cand} candidates on uniform-length corpus"
