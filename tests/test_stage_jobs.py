"""Bookkeeping fires no Spark job.

A stage's read-back passes the schema its write just used, so no
schema-inference job runs, and a resumed stage is read with the schema
its footers store; ``metrics_<stage>`` of a parquet warehouse is written
on the driver from the parquet footers; the closure's reliable round
read-backs infer nothing either. The linkage plan's sha256 invariant
costs one job on a fresh run and two on a resume, and its pair counters,
observed on the ``scored`` write, none. Jobs are counted per job group
through ``statusTracker().getJobIdsForGroup``.
"""

import glob
import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameReader

import levenshtein_spark.plans.linkage as linkage
from levenshtein_spark.operators.clustering import connected_components
from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
from levenshtein_spark.operators.scoring import score_pairs
from levenshtein_spark.plans.stages import run_stage
from levenshtein_spark.sources.code_files import code_files_df
from levenshtein_spark.sources.tables import Warehouse

METRICS_SCHEMA = pa.schema([("part", pa.int32()), ("rows", pa.int64()), ("stage", pa.string())])


def _jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    # the status store is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _run_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


@pytest.fixture
def parquet_reads(spark, monkeypatch):
    """Every ``spark.read....parquet(...)`` call runs in its own job group;
    returns a function counting the jobs those calls fired."""
    group = f"parquet_reads_{id(monkeypatch)}"
    parquet = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader,
        "parquet",
        lambda self, *paths, **opts: _run_in_group(spark, group, lambda: parquet(self, *paths, **opts)),
    )
    return lambda: _jobs_in_group(spark, group)


def test_run_stage_fires_only_its_write(spark, tmp_path, parquet_reads):
    df = spark.range(0, 1000, 1, 4).withColumnRenamed("id", "v")
    _run_in_group(spark, "plain_write", lambda: df.write.parquet(str(tmp_path / "plain")))
    write_jobs = _jobs_in_group(spark, "plain_write")
    assert write_jobs == 1

    wh = Warehouse(spark, str(tmp_path / "wh"))
    cfg = SimpleNamespace(force=False, stage_times={})
    out = _run_in_group(spark, "stage", lambda: run_stage(wh, cfg, "t", lambda: df))
    # the stage's own write only: the read-back and metrics_t fire nothing
    assert _jobs_in_group(spark, "stage") == write_jobs
    assert parquet_reads() == 0
    assert out.schema == spark.read.parquet(str(tmp_path / "plain")).schema
    assert out.count() == 1000
    assert set(cfg.stage_times) == {"t"}


def test_resumed_stage_fires_no_job(spark, tmp_path, parquet_reads):
    """A resumed stage and its driver-written ``metrics_<stage>`` are read
    with their footer schemas: no job, and the schemas inference gives."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 1000, 1, 4).selectExpr("id AS v", "array(id) AS a", "named_struct('x', id) AS s")
    run_stage(wh, SimpleNamespace(force=False, stage_times={}), "t", lambda: df)
    cfg = SimpleNamespace(force=False, stage_times={})
    out, metrics = _run_in_group(
        spark, "resume", lambda: (run_stage(wh, cfg, "t", lambda: df), wh.read("metrics_t"))
    )
    assert _jobs_in_group(spark, "resume") == 0
    assert parquet_reads() == 0
    assert cfg.stage_times == {}
    assert out.schema == spark.read.parquet(os.path.join(wh.root, "t")).schema
    assert metrics.schema == spark.read.parquet(os.path.join(wh.root, "metrics_t")).schema
    assert out.count() == 1000


def test_force_rerun_leaves_one_metrics_file(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 1000, 1, 4)
    run_stage(wh, SimpleNamespace(force=False, stage_times={}), "t", lambda: df)
    # a re-run whose row count differs: a stale metrics file would show
    out = run_stage(
        wh, SimpleNamespace(force=True, stage_times={}), "t", lambda: df.where("id % 3 = 0")
    )
    files = glob.glob(os.path.join(wh.root, "metrics_t", "*.parquet"))
    assert len(files) == 1
    assert os.path.exists(os.path.join(wh.root, "metrics_t", "_SUCCESS"))
    table = pq.read_table(files[0])
    assert table.schema == METRICS_SCHEMA
    assert sum(table["rows"].to_pylist()) == out.count() == 334
    assert table["stage"].to_pylist() == ["t"] * table.num_rows
    assert sorted(tuple(r) for r in wh.read("metrics_t").collect()) == sorted(
        zip(*table.to_pydict().values())
    )


def test_closure_read_back_fires_no_job(spark, tmp_path, parquet_reads):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    )
    labels = connected_components(edges, checkpoint_dir=str(tmp_path / "cc"))
    assert sorted(tuple(r) for r in labels.collect()) == [
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"),
    ]
    assert parquet_reads() == 0


@pytest.mark.slow
def test_linkage_invariant_fires_one_job(spark, tmp_path, monkeypatch):
    """On a fresh run the invariant's fold over the stored records is
    observed on the ``normalized`` write, which fires only its own job, and
    the fold over the source is one job."""
    src = code_files_df(spark, num_clusters=12, seed=3)
    cfg = linkage.LinkageConfig(checkpoint_dir=str(tmp_path / "wh"))
    _run_in_group(
        spark, "plain_records", lambda: linkage._records(src, cfg).write.parquet(str(tmp_path / "plain"))
    )
    plain_jobs = _jobs_in_group(spark, "plain_records")
    assert plain_jobs == 1
    stage = linkage._stage
    monkeypatch.setattr(
        linkage,
        "_stage",
        lambda wh, cfg, name, build: _run_in_group(
            spark, f"stage_{name}", lambda: stage(wh, cfg, name, build)
        ),
    )
    # every job outside a stage: the plan's own checks
    _run_in_group(spark, "checks", lambda: linkage.run_linkage(spark, src, cfg))
    assert _jobs_in_group(spark, "stage_normalized") == plain_jobs
    assert _jobs_in_group(spark, "checks") == 1


@pytest.mark.slow
def test_linkage_resume_fires_only_the_invariant_folds(spark, tmp_path):
    """A full resume reads every stage back with its footer schema: its only
    jobs are the invariant's two folds, over the checkpoint and over the
    source."""
    src = code_files_df(spark, num_clusters=12, seed=3)
    linkage.run_linkage(spark, src, linkage.LinkageConfig(checkpoint_dir=str(tmp_path / "wh")))
    cfg = linkage.LinkageConfig(checkpoint_dir=str(tmp_path / "wh"))
    _run_in_group(spark, "resume", lambda: linkage.run_linkage(spark, src, cfg))
    assert cfg.stage_times == {}
    assert _jobs_in_group(spark, "resume") == 2


@pytest.mark.slow
def test_scored_counters_fire_no_job(spark, tmp_path, monkeypatch):
    """The pair counters are observed on the ``scored`` write: the stage
    fires the jobs of a plain write of the same scored pairs."""
    src = code_files_df(spark, num_clusters=12, seed=3)
    cfg = linkage.LinkageConfig(checkpoint_dir=str(tmp_path / "wh"))
    stage = linkage._stage
    monkeypatch.setattr(
        linkage,
        "_stage",
        lambda wh, cfg, name, build: _run_in_group(
            spark, f"counted_{name}", lambda: stage(wh, cfg, name, build)
        ),
    )
    out = linkage.run_linkage(spark, src, cfg)
    assert out["counters"]["candidates"] == out["scored"].count() > 0
    plain = score_pairs(
        attach_pair_payload(
            candidate_pairs(out["blocks"], cfg.hot_threshold),
            out["normalized"],
            ["sha", "path_base", "content_prefix"],
        ),
        cfg.k_content,
        cfg.k_path,
    )
    _run_in_group(spark, "plain_scored", lambda: plain.write.parquet(str(tmp_path / "plain")))
    assert _jobs_in_group(spark, "counted_scored") == _jobs_in_group(spark, "plain_scored")
