"""Value-level memoized scoring == direct scoring, row for row.

`score_pairs(memoize=True)` scores one representative per distinct payload
tuple and joins the result back by a sha256 value key. These tests pin:

* row-identity with the direct path on a clone-heavy corpus (the case the
  flag exists for) — every (id_a, id_b) gets the same distances and match
  flag either way;
* that the memo key's NULL→'' coalesce on path_base is score-preserving
  (the kernel treats NULL and '' identically: both return max(len));
* that the memoized plan scores strictly fewer rows through the Python
  boundary than there are candidate pairs (the point of the flag).
"""

import pyspark.sql.functions as F
import pytest

from levenshtein_spark.driver_queries.linkage import _LEN_BAND, _PREFIX, docs_as_code_files
from levenshtein_spark.kernel import batch_edit_distance
from levenshtein_spark.operators.blocking import exploded_blocks
from levenshtein_spark.operators.normalize import normalize
from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
from levenshtein_spark.operators.scoring import score_pairs


# Heavy module (multi-second Spark jobs / hypothesis sweeps): excluded
# from the fast gate `pytest -m "not slow"` (README: Testing).
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"
PAYLOAD = ["sha", "content_prefix", "path_base"]


@pytest.fixture(scope="module")
def pairs(spark):
    docs = docs_as_code_files(spark, SF)
    # 3-deep clone sets: two extra replicas of every 4th doc, one verbatim
    # (exact-dupe branch) and one with a mutated tail (fuzzy branch, shared
    # content_prefix => memo hits)
    base = docs.where(F.pmod(F.xxhash64("path"), F.lit(4)) == 0)
    verbatim = base.withColumn("commit", F.concat(F.col("commit"), F.lit("_v")))
    mutated = base.withColumn("commit", F.concat(F.col("commit"), F.lit("_m"))).withColumn(
        "content", F.concat(F.col("content"), F.lit("~tail-mutation"))
    )
    corpus = docs.unionByName(verbatim).unionByName(mutated)
    norm = normalize(corpus, prefix_len=_PREFIX)
    slim = candidate_pairs(
        exploded_blocks(norm, len_band=_LEN_BAND), hot_threshold=50
    )
    return attach_pair_payload(slim, norm, PAYLOAD).persist()


def _rows(df):
    return sorted(
        (r.id_a, r.id_b, r.exact_dupe, r.content_dist, r.path_dist, r.is_match)
        for r in df.collect()
    )


def test_memoized_equals_direct(pairs):
    direct = _rows(score_pairs(pairs))
    memo = _rows(score_pairs(pairs, memoize=True))
    assert len(direct) > 0
    assert memo == direct


def test_both_branches_keep_n_keys(pairs):
    """Pairs that carry ``n_keys`` keep it, row for row, through either branch."""
    cols = ["id_a", "id_b", "n_keys"]
    want = sorted(map(tuple, pairs.select(cols).collect()))
    for memoize in (False, True):
        got = score_pairs(pairs, memoize=memoize).select(cols).collect()
        assert sorted(map(tuple, got)) == want, memoize


def test_memoized_equals_direct_levenshtein_mode(pairs):
    direct = _rows(score_pairs(pairs, transpositions=False))
    memo = _rows(score_pairs(pairs, transpositions=False, memoize=True))
    assert memo == direct


def test_memo_scores_fewer_rows_than_pairs(pairs):
    n_pairs = pairs.where(F.col("sha_a") != F.col("sha_b")).count()
    n_distinct = (
        pairs.where(F.col("sha_a") != F.col("sha_b"))
        .select("sha_a", "sha_b", "path_base_a", "path_base_b")
        .distinct()
        .count()
    )
    # the planted clone sets guarantee real duplication
    assert n_distinct < n_pairs


def test_null_and_empty_score_identically():
    # the memo key coalesces path_base NULL -> ''; safe because the kernel
    # scores NULL and '' identically (both return max(len), cap bypassed)
    assert list(batch_edit_distance([None, ""], ["abcdefghij"] * 2, k=3)) == [10, 10]
