"""Fixed kernel test vectors (FIXTURES.md §1) pinning reference semantics.

Every row pins a clause of SURVEY.md §2.2 against the reference sources
(src/edit_dist_t_2d.cpp, src/bounded_edit_dist_t.cpp, src/prealgorithm.h,
src/similarity_t.cpp, ReadMe.md:50-53).
"""

import numpy as np
import pyarrow as pa
import pytest

from levenshtein_spark import kernel as K
from levenshtein_spark.kernel import batch_edit_distance, batch_similarity
from levenshtein_spark.oracle import ref_edit_distance, ref_similarity

# (a, b, k, expected, note) — k=None means unbounded; OSA over UTF-8 bytes.
VECTORS = [
    ("test", "test", None, 0, "identity"),
    ("string", "strlng", None, 1, "substitution (doc/Testing.md:73)"),
    ("string", "stirng", None, 1, "adjacent transposition counts as 1"),
    ("ab", "ba", None, 1, "minimal transposition"),
    ("CA", "ABC", None, 3, "OSA pin: unrestricted DL would give 2"),
    ("kitten", "sitting", None, 3, "classic"),
    ("", "abc", None, 3, "empty string"),
    (None, "abc", None, 3, "NULL treated as empty (prealgorithm.h:17-23)"),
    ("abc", None, None, 3, "symmetric NULL"),
    (None, None, None, 0, "both NULL"),
    ("kitten", "sitting", 3, 3, "bounded, dist == k -> exact value"),
    ("kitten", "sitting", 2, 3, "bounded, dist > k -> k+1"),
    ("abcdef", "uvwxyz", 3, 4, "bounded, far apart -> k+1"),
    ("a", "abcdefg", 3, 4, "length-diff early exit (prealgorithm.h:77-86)"),
    ("", "abcdefg", 3, 7, "empty exit BYPASSES cap (prealgorithm.h:69-75)"),
    (None, "abcdefg", 3, 7, "NULL exit BYPASSES cap (prealgorithm.h:17-23)"),
    ("é", "e", None, 2, "byte pin: é is 2 UTF-8 bytes (ReadMe.md:50-51)"),
    ("Case", "case", None, 1, "case-sensitive (ReadMe.md:52-53)"),
    ("abc", "abc", 0, 0, "k=0 identical"),
    ("abc", "abd", 0, 1, "k=0 different -> k+1"),
    ("ab", "ba", 10, 1, "cap clamped to max(len)=2; dist 1 unaffected"),
    ("abcd", "badc", None, 2, "two disjoint transpositions"),
    ("abcd", "badc", 1, 2, "bounded k=1 -> k+1=2"),
    ("xxxkitten", "xxxsitting", None, 3, "common prefix"),
    ("kittenyyy", "sittingyyy", None, 3, "common suffix"),
]


@pytest.mark.parametrize("a,b,k,expected,note", VECTORS, ids=[v[4] for v in VECTORS])
def test_vector_osa(a, b, k, expected, note):
    got = batch_edit_distance([a], [b], k=None if k is None else [k])[0]
    assert got == expected, note
    assert ref_edit_distance(a, b, k) == expected, "oracle disagrees: " + note


def test_batch_mixed_vector():
    a = [v[0] for v in VECTORS]
    b = [v[1] for v in VECTORS]
    k = [v[2] for v in VECTORS]
    exp = np.array([v[3] for v in VECTORS])
    got = batch_edit_distance(a, b, k=[(-1 if x is None else x) for x in k])
    assert (got == exp).all(), list(zip(a, b, k, got, exp))


def test_caps_unbounded_sentinels():
    """Per-pair caps: None, NaN, NULL and negative entries all mean
    unbounded, in object sequences, integer arrays and Arrow arrays (what
    the Arrow UDFs pass, an SQL ``NULL`` cap included) alike."""
    a = [f"kitten{i}" for i in range(4)]
    b = [f"sitting{i}" for i in range(4)]
    want = [3, 3, 3, 2]
    for k in (
        [None, float("nan"), -1, 1],
        np.array([None, np.nan, -1, 1], dtype=object),
        np.array([-1, -1, -1, 1], dtype=np.int64),
        np.array([-1, -1, -1, 1], dtype=np.int32),
        pa.array([None, None, -1, 1], pa.int64()),
        pa.array([None, None, -1, 1], pa.int32()),
        pa.chunked_array([[None, None], [-1, 1]], pa.int64()),
    ):
        assert batch_edit_distance(a, b, k=k).tolist() == want, k
        assert batch_edit_distance(pa.array(a), pa.array(b), k=k).tolist() == want, k
    assert batch_edit_distance(a, b, k=pa.nulls(4)).tolist() == [3, 3, 3, 3]


# The four Arrow string/binary types the kernel reads in place.
ARROW_TYPES = [pa.string(), pa.large_string(), pa.binary(), pa.large_binary()]


def _arrow(values, typ, offset=0):
    """``values`` as an Arrow array of ``typ``; with ``offset`` a slice of a
    longer array whose first ``offset`` values are junk, so the kernel must
    honour the array offset (and a value buffer that starts elsewhere)."""
    binary = typ in (pa.binary(), pa.large_binary())
    enc = [v.encode() if (binary and isinstance(v, str)) else v for v in values]
    junk = [b"junk" if binary else "junk", None, b"" if binary else ""][:offset]
    return pa.array(junk + enc, typ).slice(offset)


@pytest.mark.parametrize("offset", [0, 3], ids=["whole", "sliced"])
@pytest.mark.parametrize("typ", ARROW_TYPES, ids=str)
def test_vectors_through_arrow(typ, offset):
    """Every fixed vector through each Arrow type, whole and sliced, with the
    two sides of different types: equal to the list path and the oracle."""
    a = [v[0] for v in VECTORS]
    b = [v[1] for v in VECTORS]
    k = [(-1 if v[2] is None else v[2]) for v in VECTORS]
    want = [v[3] for v in VECTORS]
    other = ARROW_TYPES[(ARROW_TYPES.index(typ) + 1) % 4]
    assert batch_edit_distance(a, b, k=k).tolist() == want
    got = batch_edit_distance(_arrow(a, typ, offset), _arrow(b, other, 3 - offset), k=k)
    assert got.tolist() == want
    assert [ref_edit_distance(x, y, v[2]) for x, y, v in zip(a, b, VECTORS)] == want
    sa, sb = _arrow(a, typ, offset), _arrow(b, typ, offset)
    for tr in (True, False):
        assert (
            batch_edit_distance(sa, sb, k=k, transpositions=tr).tolist()
            == batch_edit_distance(a, b, k=k, transpositions=tr).tolist()
        )
    sims = batch_similarity(sa, sb, pa.array([0.5] * len(a)))
    assert sims.tolist() == batch_similarity(a, b, 0.5).tolist()


def test_null_typed_input():
    """An untyped SQL NULL arrives as a ``pa.null()`` array: every pair is
    the NULL exit, max(len) with the cap bypassed."""
    b = ["abc", "", None, "abcdefg"]
    assert batch_edit_distance(pa.nulls(4), pa.array(b), k=2).tolist() == [3, 0, 0, 7]
    assert batch_edit_distance(pa.array(b), pa.nulls(4)).tolist() == [3, 0, 0, 7]
    assert batch_similarity(pa.nulls(4), pa.array(b), 0.5)[1] == 1.0


def test_empty_batch():
    for typ in ARROW_TYPES:
        assert batch_edit_distance(pa.array([], typ), pa.array([], typ), k=3).tolist() == []
    assert batch_edit_distance([], [], k=3).tolist() == []


def test_stats_equal_for_list_and_arrow():
    """The kernel counters mean the same on either input: a fixed sample
    that reaches every exit, the trim, the histogram screen and the DP."""
    rng = np.random.default_rng(11)
    words = ["".join(rng.choice(list("abcde"), rng.integers(0, 12))) for _ in range(300)]
    a = [None if i % 41 == 0 else w for i, w in enumerate(words)]
    b = [
        w if i % 7 == 0 else (w[:3] + "xy" + w[4:] if i % 3 else words[(i * 17) % 300])
        for i, w in enumerate(words)
    ]
    snaps = []
    for args in ((a, b), (pa.array(a), pa.array(b, pa.large_string()))):
        K.enable_stats(True)
        try:
            got = batch_edit_distance(*args, k=3)
            snaps.append((got.tolist(), K.stats_snapshot()))
        finally:
            K.enable_stats(False)
    assert snaps[0] == snaps[1]
    s = snaps[0][1]
    for c in ("exit_null", "exit_empty", "exit_ldiff", "exit_identical", "hist_kills", "dp_pairs"):
        assert s[c] > 0, c


def test_levenshtein_variant_no_transpositions():
    # edit_dist / bounded_edit_dist: transposition costs 2 (sub+sub or ins+del)
    assert batch_edit_distance(["ab"], ["ba"], transpositions=False)[0] == 2
    assert batch_edit_distance(["string"], ["stirng"], transpositions=False)[0] == 2
    assert batch_edit_distance(["kitten"], ["sitting"], transpositions=False)[0] == 3
    assert batch_edit_distance(["CA"], ["ABC"], transpositions=False)[0] == 3


def test_negative_k_raises():
    with pytest.raises(ValueError):
        ref_edit_distance("a", "b", -2)


SIM_VECTORS = [
    ("kitten", "sitting", 0.5, 1.0 - 3.0 / 7.0),
    ("test", "test", 0.9, 1.0),
    ("", "", 0.5, 1.0),
]


@pytest.mark.parametrize("a,b,p,expected", SIM_VECTORS)
def test_similarity_vectors(a, b, p, expected):
    got = batch_similarity([a], [b], p)[0]
    assert got == pytest.approx(expected, abs=1e-12)
    assert ref_similarity(a, b, p) == pytest.approx(expected, abs=1e-12)


def test_similarity_floor_below_threshold():
    # Far-apart pair must classify below p; exact value is the documented floor.
    # p=0.75 is exactly representable, so kmax = int(0.25*10) = 2 without the
    # double-truncation surprise (which the reference shares: similarity_t.cpp:56-58).
    p = 0.75
    got = batch_similarity(["abcdefghij"], ["qrstuvwxyz"], p)[0]
    assert got < p
    m, kmax = 10, int((1 - p) * 10)
    assert got == pytest.approx(max(0.0, 1.0 - (kmax + 1) / m))


def test_similarity_float_truncation_matches_reference_cast():
    # int((1.0-0.8)*10) == 1 in both C and Python double math; the floor is
    # then 1 - 2/10 = 0.8 == p, and the reference would return exactly p.
    got = batch_similarity(["abcdefghij"], ["qrstuvwxyz"], 0.8)[0]
    assert got == pytest.approx(0.8)


def test_similarity_validates_p():
    with pytest.raises(ValueError):
        batch_similarity(["a"], ["b"], 1.5)
