"""The spark-submit entry points (jobs/) exercised end-to-end: arg parsing,
plan wiring, and the one-line JSON report — the CLI layer the cluster
deployment actually runs."""

from __future__ import annotations

import pytest

import json
import sys



# Heavy module (multi-second Spark jobs / hypothesis sweeps): excluded
# from the fast gate `pytest -m "not slow"` (README: Testing).
pytestmark = pytest.mark.slow

def _run_job(monkeypatch, capsys, module, argv):
    monkeypatch.setattr(sys, "argv", argv)
    assert module.main() == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_link_job_synthetic(spark, tmp_path, monkeypatch, capsys):
    import jobs.link as job

    from levenshtein_spark.sources.tables import Warehouse

    argv = ["link", "--synthetic-clusters", "40", "--checkpoint", str(tmp_path / "wh")]
    rep = _run_job(monkeypatch, capsys, job, argv)
    assert rep["n_clusters"] > 0
    assert rep["stage_rows"]["normalized"] > 0
    assert set(rep["stage_times"])  # fresh run computed stages
    # stage_rows come from the parquet footers: they equal the tables'
    # counts; pairs and edges, projections of scored, from its counters
    wh = Warehouse(spark, str(tmp_path / "wh"))
    scored = wh.read("scored")
    assert rep["stage_rows"] == {
        **{t: wh.read(t).count() for t in ("normalized", "blocks", "scored", "clusters")},
        "pairs": scored.count(),
        "edges": scored.where("is_match").count(),
    }
    # a resume never observes the scored write: the same counts by one
    # aggregation over the table
    resumed = _run_job(monkeypatch, capsys, job, argv)
    assert resumed["stage_times"] == {}
    assert resumed["stage_rows"] == rep["stage_rows"]


def test_curate_job_batch_and_incremental(spark, tmp_path, monkeypatch, capsys):
    import jobs.curate as job

    base_rows = [(i, f"base document {i} with several plain words in it " * 2,
                  "en", "s", 90) for i in range(30)]
    delta_rows = [(100 + i, f"delta document {i} arriving later with words " * 2,
                   "en", "s", 80) for i in range(5)]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src_base = str(tmp_path / "base.parquet")
    src_delta = str(tmp_path / "delta.parquet")
    spark.createDataFrame(base_rows, schema).write.parquet(src_base)
    spark.createDataFrame(delta_rows, schema).write.parquet(src_delta)
    wh = str(tmp_path / "wh")

    rep = _run_job(
        monkeypatch, capsys, job,
        ["curate", "--source", src_base, "--checkpoint", wh],
    )
    assert rep["stage_rows"]["profiled"] == 30
    assert 0 < rep["retention"] <= 1

    rep2 = _run_job(
        monkeypatch, capsys, job,
        ["curate", "--source", src_delta, "--checkpoint", wh,
         "--incremental-batch", "day1"],
    )
    assert rep2["stage_rows"]["delta_profiled"] == 5
    assert rep2["stage_rows"]["canon"] >= rep["stage_rows"]["canon"]
    assert 0 < rep2["retention"] <= 1


def test_spark_submit_py_files_real_binary(tmp_path):
    """The ACTUAL cluster deployment path (north_rule: 'run via spark-submit
    --py-files'): build dist/levenshtein_spark.zip, copy jobs/link.py OUTSIDE
    the repo, and run the real spark-submit binary from there — so the
    package import can only be satisfied by the --py-files archive, exactly
    as on a multi-executor cluster. Asserts a clean exit and a sane JSON
    report from the full blocking→scoring→clustering pipeline."""
    import os
    import shutil
    import subprocess

    import pyspark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    from tools.make_dist import build

    zip_path = str(tmp_path / "levenshtein_spark.zip")
    n = build(zip_path)
    assert n > 20  # the package really is in the archive

    job = str(tmp_path / "link.py")
    shutil.copyfile(os.path.join(repo, "jobs", "link.py"), job)
    spark_submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")

    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            job,
            "--synthetic-clusters", "25",
            "--checkpoint", str(tmp_path / "wh"),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rep = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert rep["n_clusters"] > 0
    assert rep["stage_rows"]["normalized"] > 0
