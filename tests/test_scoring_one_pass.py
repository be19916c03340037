"""Non-memo ``score_pairs`` is one projection with one ArrowEvalPython node,
and its rows equal a brute-force oracle.

The pairs mix exact dupes whose path bases differ (content_dist 0 without
the kernel, path_dist still scored), different shas with the same 256-byte
prefix (fuzzy, distance 0), NULL and empty path bases, and a NULL sha
(neither exact nor fuzzy: no row).
"""

import hashlib

import pytest

from levenshtein_spark.oracle import ref_edit_distance
from levenshtein_spark.operators.scoring import score_pairs

K_CONTENT, K_PATH = 3, 2
PREFIX = 256
SCHEMA = (
    "id_a string, id_b string, sha_a string, sha_b string, content_prefix_a string, "
    "content_prefix_b string, path_base_a string, path_base_b string"
)
DOCS = {
    "base": "x" * 300 + "tail one",
    "same_prefix": "x" * 300 + "tail two",
    "near": "x" * 250 + "yyyy" + "x" * 46,
    "far": "completely different text",
    "empty": "",
}
# (doc_a, doc_b, path_base_a, path_base_b)
PAIRS = [
    ("base", "base", "main.py", "mian.py"),
    ("base", "base", "a.py", "totally_other_name.py"),
    ("far", "far", None, "x.py"),
    ("base", "same_prefix", "a.py", "a.py"),
    ("base", "near", "", "b.py"),
    ("base", "far", None, None),
    ("empty", "far", "", None),
    ("empty", "empty", "", ""),
    ("near", "same_prefix", "util.c", "utils.c"),
]


def _sha(doc):
    return hashlib.sha256(DOCS[doc].encode()).hexdigest()


def _rows():
    rows = [
        (f"a{i}", f"b{i}", _sha(da), _sha(db), DOCS[da][:PREFIX], DOCS[db][:PREFIX], pa, pb)
        for i, (da, db, pa, pb) in enumerate(PAIRS)
    ]
    rows.append(("n0", "n1", None, _sha("far"), "q", "r", "p", "p"))
    return rows


def _oracle(rows, transpositions):
    out = []
    for id_a, id_b, sha_a, sha_b, ca, cb, pa, pb in rows:
        if sha_a is None or sha_b is None:
            continue
        exact = sha_a == sha_b
        content = 0 if exact else ref_edit_distance(ca, cb, K_CONTENT, transpositions)
        path = ref_edit_distance(pa, pb, K_PATH, transpositions)
        out.append((id_a, id_b, exact, content, path, exact or content <= K_CONTENT))
    return sorted(out)


@pytest.mark.parametrize("transpositions", [True, False])
def test_one_arrow_pass_matches_oracle(spark, transpositions):
    rows = _rows()
    scored = score_pairs(
        spark.createDataFrame(rows, SCHEMA), K_CONTENT, K_PATH, transpositions=transpositions
    )
    got = sorted(tuple(r) for r in scored.collect())
    assert got == _oracle(rows, transpositions)
    assert {r[2] for r in got} == {True, False}
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Union" not in plan, plan
