"""Hypothesis property tests: arbitrary bytes (embedded NULs are legal —
the reference takes (char*, len) pairs, src/prealgorithm.h:26-27), arbitrary
unicode (scored as UTF-8 bytes, ReadMe.md:50-51), arbitrary caps — kernel vs
the scalar reference-semantics oracle, with shrinking on failure."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from levenshtein_spark.kernel import batch_edit_distance, batch_similarity
from levenshtein_spark.oracle import ref_edit_distance, ref_similarity

_BYTES = st.binary(min_size=0, max_size=40)
_TEXT = st.text(min_size=0, max_size=30)  # arbitrary unicode incl. astral
_K = st.one_of(st.none(), st.integers(min_value=0, max_value=25))


@settings(max_examples=300, deadline=None)
@given(a=_BYTES, b=_BYTES, k=_K)
def test_bytes_pairs_match_oracle(a, b, k):
    for tr in (True, False):
        got = int(batch_edit_distance([a], [b], k=k, transpositions=tr)[0])
        assert got == ref_edit_distance(a, b, k, transpositions=tr)


@settings(max_examples=200, deadline=None)
@given(a=_TEXT, b=_TEXT, k=_K)
def test_unicode_pairs_match_oracle(a, b, k):
    # kernel scores UTF-8 bytes; oracle encodes identically
    got = int(batch_edit_distance([a], [b], k=k)[0])
    assert got == ref_edit_distance(a, b, k)


@settings(max_examples=200, deadline=None)
@given(a=_BYTES, b=_BYTES, p=st.floats(min_value=0.0, max_value=1.0))
def test_similarity_matches_oracle(a, b, p):
    got = float(batch_similarity([a], [b], p)[0])
    exp = ref_similarity(a, b, p)
    assert abs(got - exp) < 1e-12


@settings(max_examples=100, deadline=None)
@given(
    pairs=st.lists(st.tuples(_BYTES, _BYTES), min_size=1, max_size=30),
    k=st.integers(min_value=0, max_value=10),
)
def test_batch_equals_per_pair(pairs, k):
    """Batch result is independent of batch composition (chunking, lockstep
    masking, and the counting bound never leak across pairs)."""
    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]
    whole = batch_edit_distance(a, b, k=k).tolist()
    single = [int(batch_edit_distance([x], [y], k=k)[0]) for x, y in pairs]
    assert whole == single


_ARROW_TYPES = st.sampled_from([pa.string(), pa.large_string(), pa.binary(), pa.large_binary()])


@settings(max_examples=150, deadline=None)
@given(
    pairs=st.lists(st.tuples(_TEXT, _TEXT), min_size=1, max_size=20),
    k=_K,
    ta=_ARROW_TYPES,
    tb=_ARROW_TYPES,
    skip=st.integers(min_value=0, max_value=3),
)
def test_arrow_inputs_match_list_and_oracle(pairs, k, ta, tb, skip):
    """The same pairs as Arrow arrays of any of the four string/binary
    types, sliced past ``skip`` junk values: equal to the list path and to
    the oracle, with and without transpositions."""
    a = [x for x, _ in pairs]
    b = [y for _, y in pairs]

    def arrow(values, typ):
        enc = [v.encode() for v in values] if typ in (pa.binary(), pa.large_binary()) else values
        return pa.array([None] * skip + enc, typ).slice(skip)

    for tr in (True, False):
        got = batch_edit_distance(arrow(a, ta), arrow(b, tb), k=k, transpositions=tr).tolist()
        assert got == batch_edit_distance(a, b, k=k, transpositions=tr).tolist()
        assert got == [ref_edit_distance(x, y, k, transpositions=tr) for x, y in pairs]
