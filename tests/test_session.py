"""The per-query cache lifecycle: one registry, one full release.

Every ``scoped_persist`` frame — including the range-partitioned projection
``global_rank`` persists internally — is dropped by a single
``release_caches()``; there is no partial release that keeps some of them.
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from levenshtein_spark.operators.snm import global_rank
from levenshtein_spark.session import local_frame, release_caches, scoped_persist


def test_one_release_drops_every_registered_frame(spark):
    release_caches()  # drain whatever earlier tests registered

    df = spark.createDataFrame([(i, f"k{i % 7}") for i in range(50)], "id long, skey string")
    ranked = global_rank(df, ["skey", "id"], num_partitions=4).collect()
    assert sorted(r.pos for r in ranked) == list(range(50))
    own = spark.range(10).transform(scoped_persist)
    assert own.count() == 10
    assert own.storageLevel != StorageLevel.NONE

    # the global_rank projection and the test's own frame, in one call
    assert release_caches() == 2
    assert own.storageLevel == StorageLevel.NONE
    assert release_caches() == 0


def test_partial_release_is_rejected(spark):
    with pytest.raises(ValueError, match="partial release was removed"):
        release_caches(include_pinned=False)


@pytest.mark.parametrize(
    "rows,ddl",
    [
        ([(0, 0), (1, 5), (3, 12)], "_pid int, _offset long"),
        ([], "_pid int, _offset long"),
        ([(0, 1, [0.5, -1.0]), (1, 7, [])], "m int, cid long, cvec array<double>"),
        (
            [(0, None, "a", 3), (2, "x", None, 0)],
            "_opid int, _og_0 string, _og_1 string, _offset_0 long",
        ),
    ],
)
def test_local_frame_is_a_local_relation(spark, rows, ddl):
    """The driver-side frames of global_rank, global_prefix_sum and k-means
    keep the DDL schema exactly and plan as a LocalRelation (no Python RDD
    to schedule), with the rows as given."""
    df = local_frame(spark, rows, ddl)
    assert df.schema == spark.createDataFrame([], ddl).schema
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    assert [tuple(r) for r in df.collect()] == rows
