"""End-to-end curation plan: quality gate → exact dedup → near-dup collapse
→ splits → token-budget shards, with checkpoint/resume semantics."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from levenshtein_spark.plans.curation import CurationConfig, run_curation


# Heavy module (multi-second Spark jobs / hypothesis sweeps): excluded
# from the fast gate `pytest -m "not slow"` (README: Testing).
pytestmark = pytest.mark.slow

GOOD = (
    "the data engine reads the table and joins the rows with the index "
    "then writes the result to the warehouse for the next stage to scan"
)
GOOD2 = (
    "a query plan is optimized and executed in stages that shuffle rows "
    "between the workers while the driver tracks progress for the job"
)


def _docs(spark):
    rows = [
        (0, GOOD),
        (1, GOOD),                                   # exact dupe of 0
        (2, GOOD + " trailing words appended here"),  # near dupe of 0
        (3, GOOD2),
        (4, "zz"),                                   # low quality: too short
        (5, "spark " * 40),                          # degenerate repetition
        (6, GOOD2.replace("driver", "leader")),      # near dupe of 3
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _cfg(tmp_path, **kw):
    return CurationConfig(
        checkpoint_dir=str(tmp_path / "wh"),
        jaccard=0.6,
        shard_budget=30,
        hot_threshold=50,
        **kw,
    )


def test_curation_pipeline_end_to_end(spark, tmp_path):
    out = run_curation(spark, _docs(spark), _cfg(tmp_path))
    kept = {r.doc_id for r in out["kept"].collect()}
    assert 4 not in kept and 5 not in kept          # quality gate
    exact = {r.doc_id for r in out["exact_canon"].collect()}
    assert 1 not in exact and 0 in exact            # exact dupe collapsed to min id
    canon = {r.doc_id for r in out["canon"].collect()}
    assert canon == {0, 3}                          # near dupes 2, 6 collapsed
    shards = {r.doc_id: (r.split, r.shard_id) for r in out["shards"].collect()}
    assert set(shards) == canon
    # packing is per split: shard ids start at 0 within each split
    for s in {v[0] for v in shards.values()}:
        assert min(sh for sp, sh in shards.values() if sp == s) == 0
    # lineage metrics written for every stage
    wh = out["warehouse"]
    for stage in ("profiled", "kept", "exact_canon", "neardup_bands",
                  "neardup_edges", "canon", "splits", "shards"):
        assert wh.exists(f"metrics_{stage}"), stage


def test_curation_resume_skips_completed_stages(spark, tmp_path):
    cfg = _cfg(tmp_path)
    first = run_curation(spark, _docs(spark), cfg)
    assert len(cfg.stage_times) == 8                # everything computed

    cfg2 = _cfg(tmp_path)
    second = run_curation(spark, _docs(spark), cfg2)
    assert cfg2.stage_times == {}                   # fully resumed, zero recompute
    a = sorted(map(tuple, first["shards"].collect()))
    b = sorted(map(tuple, second["shards"].collect()))
    assert a == b


def _merged_docs(spark):
    """Base corpus + an append-only delta (ids strictly above the base's):
    a near-dup of a base doc, an exact dupe of a base doc, a fresh doc,
    and a low-quality doc."""
    base = _docs(spark)
    delta_rows = [
        (10, GOOD + " slightly extended by a delta arrival"),  # near-dup of 0
        (11, GOOD2),                                           # exact dupe of 3
        (12, "a completely fresh delta document with plenty of "
             "ordinary words to pass the quality gate easily today"),
        (13, "qq"),                                            # low quality
    ]
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    return base, delta


def test_incremental_curation_matches_full_batch(spark, tmp_path):
    from levenshtein_spark.plans.curation import run_incremental_curation

    base, delta = _merged_docs(spark)
    cfg = _cfg(tmp_path)
    run_curation(spark, base, cfg)
    inc = run_incremental_curation(spark, delta, _cfg(tmp_path), batch_id="day1")

    full = run_curation(spark, base.unionByName(delta), _cfg(tmp_path / "full"))
    inc_shards = sorted(map(tuple, inc["shards"].collect()))
    full_shards = sorted(map(tuple, full["shards"].collect()))
    assert inc_shards == full_shards
    inc_canon = sorted(r.doc_id for r in inc["canon"].collect())
    full_canon = sorted(r.doc_id for r in full["canon"].collect())
    assert inc_canon == full_canon
    # the delta's quadratic work touched only delta-involved pairs
    assert 13 not in {r.doc_id for r in inc["delta_kept"].collect()}


def test_incremental_curation_chains_batches(spark, tmp_path):
    from levenshtein_spark.plans.curation import run_incremental_curation

    base, delta = _merged_docs(spark)
    day2_rows = [(20, GOOD2 + " second day variation appended"),
                 (21, "another brand new document arriving on day two with words")]
    day2 = spark.createDataFrame(day2_rows, "doc_id long, text string")

    run_curation(spark, base, _cfg(tmp_path))
    run_incremental_curation(spark, delta, _cfg(tmp_path), batch_id="day1")
    inc2 = run_incremental_curation(
        spark, day2, _cfg(tmp_path), batch_id="day2", base_prefix="day1_all_"
    )
    full = run_curation(
        spark, base.unionByName(delta).unionByName(day2), _cfg(tmp_path / "full2")
    )
    assert sorted(map(tuple, inc2["shards"].collect())) == sorted(
        map(tuple, full["shards"].collect())
    )


def test_incremental_curation_guards(spark, tmp_path):
    import pytest

    from levenshtein_spark.plans.curation import run_incremental_curation

    base, _ = _merged_docs(spark)
    run_curation(spark, base, _cfg(tmp_path))
    overlapping = spark.createDataFrame([(0, GOOD)], "doc_id long, text string")
    with pytest.raises(ValueError, match="already exist"):
        run_incremental_curation(spark, overlapping, _cfg(tmp_path), batch_id="bad1")
    # disjoint id BELOW the base's max: min-id survivorship would re-elect
    # canonicals, so the append-only guard must fire (gapped base: 0,2,4)
    gapped = spark.createDataFrame(
        [(0, GOOD), (2, GOOD2), (4, GOOD + " tail")], "doc_id long, text string"
    )
    run_curation(spark, gapped, _cfg(tmp_path / "gapped"))
    low_id = spark.createDataFrame(
        [(1, "perfectly reasonable new words")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="append-only"):
        run_incremental_curation(spark, low_id, _cfg(tmp_path / "gapped"), batch_id="bad2")


def test_curation_resume_mid_pipeline(spark, tmp_path):
    """Kill-after-stage-N: drop the later stage tables and re-run — the
    early stages resume from the warehouse, the rest recompute, and the
    result matches an uninterrupted run."""
    cfg = _cfg(tmp_path)
    full = sorted(map(tuple, run_curation(spark, _docs(spark), cfg)["shards"].collect()))

    import shutil

    for stage in ("canon", "splits", "shards", "metrics_canon", "metrics_splits",
                  "metrics_shards"):
        shutil.rmtree(str(tmp_path / "wh" / stage), ignore_errors=True)
    cfg2 = _cfg(tmp_path)
    redo = run_curation(spark, _docs(spark), cfg2)
    assert set(cfg2.stage_times) == {"canon", "splits", "shards"}
    assert sorted(map(tuple, redo["shards"].collect())) == full
