"""End-to-end pipeline: pairwise F1 >= 0.99 vs oracle gold (the BASELINE metric).

Gold derivation (FIXTURES.md §3): enumerate candidate pairs within the same
blocking key (the pipeline's own key universe), label each with the
full-matrix oracle — ``is_match = sha_equal OR oracle_OSA(prefix) <= k`` —
then gold clusters = union-find closure. The pipeline must reproduce both the
pair labels and the co-clustering relation.
"""

import glob
import itertools
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from levenshtein_spark.operators.normalize import normalize
from levenshtein_spark.oracle import ref_edit_distance
from levenshtein_spark.operators.pairs import candidate_pairs
from levenshtein_spark.operators.scoring import edges as edges_of
from levenshtein_spark.plans.linkage import (
    RECORD_COLUMNS,
    LinkageConfig,
    pair_counters,
    run_linkage,
)
from levenshtein_spark.sources.code_files import SCHEMA, code_files_df, generate_cluster_rows


# Heavy module (multi-second Spark jobs / hypothesis sweeps): excluded
# from the fast gate `pytest -m "not slow"` (README: Testing).
pytestmark = pytest.mark.slow

K_CONTENT = 8
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# the tables run_linkage writes; pairs and edges are projections of scored
STAGES = ("normalized", "blocks", "scored", "clusters")


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    src = code_files_df(spark, num_clusters=60, seed=42)
    cfg = LinkageConfig(checkpoint_dir=ckpt, k_content=K_CONTENT, hot_threshold=150)
    out = run_linkage(spark, src, cfg)
    return out, cfg


def _gold_labels(out):
    """Oracle labels over the pipeline's own candidate universe."""
    rows = {
        r.id: r
        for r in out["normalized"].select("id", "sha", "content_prefix").collect()
    }
    blocks = {}
    for r in out["blocks"].select("block_key", "id").collect():
        blocks.setdefault(r.block_key, []).append(r.id)
    gold = {}
    for key, ids in blocks.items():
        for a, b in itertools.combinations(sorted(set(ids)), 2):
            if (a, b) in gold:
                continue
            ra, rb = rows[a], rows[b]
            match = ra.sha == rb.sha or (
                ref_edit_distance(ra.content_prefix, rb.content_prefix, K_CONTENT)
                <= K_CONTENT
            )
            gold[(a, b)] = match
    return gold


def _f1(tp, fp, fn):
    prec = tp / (tp + fp) if tp + fp else 1.0
    rec = tp / (tp + fn) if tp + fn else 1.0
    return 2 * prec * rec / (prec + rec) if prec + rec else 0.0


def test_pairwise_f1_vs_oracle(pipeline):
    out, _ = pipeline
    gold = _gold_labels(out)
    pred = {
        (r.id_a, r.id_b): r.is_match
        for r in out["scored"].select("id_a", "id_b", "is_match").collect()
    }
    assert set(pred) == set(gold), "candidate universe must match gold universe"
    tp = sum(1 for k, m in pred.items() if m and gold[k])
    fp = sum(1 for k, m in pred.items() if m and not gold[k])
    fn = sum(1 for k, m in pred.items() if not m and gold[k])
    f1 = _f1(tp, fp, fn)
    assert tp + fn > 50, "fixture must contain a meaningful number of gold matches"
    assert f1 >= 0.99, (tp, fp, fn, f1)


def test_cluster_pairwise_f1_vs_oracle(pipeline):
    out, _ = pipeline
    gold = _gold_labels(out)

    # gold closure via union-find over gold-match pairs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b), m in gold.items():
        if m:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

    labels = {r.id: r.cluster_id for r in out["clusters"].collect()}
    gold_root = {i: find(i) for i in labels}

    ids = sorted(labels)
    tp = fp = fn = 0
    for a, b in itertools.combinations(ids, 2):
        same_pred = labels[a] == labels[b]
        same_gold = gold_root[a] == gold_root[b]
        tp += same_pred and same_gold
        fp += same_pred and not same_gold
        fn += (not same_pred) and same_gold
    f1 = _f1(tp, fp, fn)
    assert f1 >= 0.99, (tp, fp, fn, f1)


def test_sha_invariant_held(pipeline, spark):
    out, _ = pipeline
    # run_linkage raises if sha256 drifts; assert the column exists & is full-width
    n = out["normalized"].where("length(sha) = 64").count()
    assert n == out["normalized"].count()
    # sha hashes coalesce(content, ''): NULL and '' content are exact dupes
    blank = spark.createDataFrame([("r", "p", "c", "py", None), ("r", "q", "c", "py", "")], SCHEMA)
    assert len({r.sha for r in normalize(blank).collect()}) == 1


def test_stage_metrics_cover_every_row(pipeline):
    """metrics_<stage> has one row per write task (distinct ``part``), and
    its ``rows`` sum to the stage table's row count."""
    out, _ = pipeline
    wh = out["warehouse"]
    for stage in STAGES:
        metrics = wh.read(f"metrics_{stage}").collect()
        parts = [r.part for r in metrics]
        assert parts and len(parts) == len(set(parts)), stage
        assert {r.stage for r in metrics} == {stage}
        assert sum(r.rows for r in metrics) == out[stage].count(), stage


def test_pairs_and_edges_are_projections_of_scored(pipeline):
    """``pairs`` is the candidate stream of ``candidate_pairs`` row for row
    and ``edges`` the ``is_match`` rows of ``scored``; neither is a table."""
    out, cfg = pipeline
    want = candidate_pairs(out["blocks"], cfg.hot_threshold)
    cols = ["id_a", "id_b", "n_keys"]
    assert sorted(map(tuple, out["pairs"].select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    assert sorted(map(tuple, out["edges"].collect())) == sorted(
        map(tuple, edges_of(out["scored"]).collect())
    )
    written = set(os.listdir(cfg.checkpoint_dir))
    assert not written & {"pairs", "edges", "metrics_pairs", "metrics_edges"}
    assert {*STAGES, *(f"metrics_{s}" for s in STAGES)} <= written


def test_counters_observed_on_scored(pipeline):
    """The counters observed on the ``scored`` write are the rows of its
    projections, and ``pair_counters`` recomputes them from the table."""
    out, _ = pipeline
    want = {
        "candidates": out["pairs"].count(),
        "exact_dupes": out["scored"].where("exact_dupe").count(),
        "edges": out["edges"].count(),
    }
    assert out["counters"] == want
    assert pair_counters(out["scored"]) == want


def test_resume_repairs_missing_metrics(pipeline, spark):
    """A kill between a stage's data write and its metrics write leaves the
    data with ``_SUCCESS`` and no ``metrics_<stage>``; the resume rebuilds
    the metrics table and recomputes no stage."""
    out, cfg = pipeline
    shutil.rmtree(os.path.join(cfg.checkpoint_dir, "metrics_scored"))
    cfg2 = LinkageConfig(
        checkpoint_dir=cfg.checkpoint_dir,
        k_content=cfg.k_content,
        hot_threshold=cfg.hot_threshold,
    )
    out2 = run_linkage(spark, code_files_df(spark, num_clusters=60, seed=42), cfg2)
    assert cfg2.stage_times == {}
    wh = out2["warehouse"]
    for stage in STAGES:
        rows = [r.rows for r in wh.read(f"metrics_{stage}").collect()]
        assert sum(rows) == out2[stage].count(), stage


def test_resume_skips_stages_and_is_identical(pipeline, spark):
    out, cfg = pipeline
    before = {r.id: r.cluster_id for r in out["clusters"].collect()}
    src = code_files_df(spark, num_clusters=60, seed=42)
    cfg2 = LinkageConfig(
        checkpoint_dir=cfg.checkpoint_dir,
        k_content=cfg.k_content,
        hot_threshold=cfg.hot_threshold,
    )
    out2 = run_linkage(spark, src, cfg2)
    after = {r.id: r.cluster_id for r in out2["clusters"].collect()}
    assert before == after
    assert cfg2.stage_times == {}, "resume must not recompute any stage"


def _corpus(spark, stop: int, start: int = 0, seed: int = 5):
    """Rows ``start:stop`` of the generator's clusters, in order."""
    rows, cid = [], 0
    while len(rows) < stop:
        rows += [tuple(r.values()) for r in generate_cluster_rows(cid, seed)]
        cid += 1
    return spark.createDataFrame(rows[start:stop], SCHEMA)


@pytest.fixture(scope="module")
def small_ckpt(spark, tmp_path_factory):
    """A finished checkpoint of a 36-row source."""
    ckpt = str(tmp_path_factory.mktemp("small"))
    run_linkage(spark, _corpus(spark, 36), LinkageConfig(checkpoint_dir=ckpt))
    return ckpt


def test_resume_with_grown_source_raises(spark, small_ckpt):
    """Resuming a 36-row checkpoint with a 64-row source raises before any
    stage resumes: added rows change no sha, yet the labels would be stale."""
    cfg = LinkageConfig(checkpoint_dir=small_ckpt)
    with pytest.raises(AssertionError, match="28 new.*force=True.*run_incremental_linkage"):
        run_linkage(spark, _corpus(spark, 64), cfg)
    assert cfg.stage_times == {}


def test_resume_with_edited_sha_raises(spark, small_ckpt, tmp_path):
    """One sha rewritten in the ``normalized`` checkpoint fails the invariant."""
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(small_ckpt, ckpt)
    part = sorted(glob.glob(os.path.join(ckpt, "normalized", "part-*.parquet")))[0]
    table = pq.read_table(part)
    sha = table["sha"].to_pylist()
    sha[0] = "0" * 64
    i = table.schema.get_field_index("sha")
    pq.write_table(table.set_column(i, "sha", pa.array(sha, pa.string())), part)
    # Hadoop's local file system checks a file against its .crc sidecar
    os.remove(os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc"))
    with pytest.raises(AssertionError, match="sha256 invariant violated.*1 with another sha"):
        run_linkage(spark, _corpus(spark, 36), LinkageConfig(checkpoint_dir=ckpt))


def test_resume_of_checkpoint_with_pairs_stage(spark, small_ckpt, tmp_path):
    """A checkpoint written when ``pairs`` and ``edges`` were tables of their
    own, with a ``scored`` table without ``n_keys``: the resume recomputes
    ``scored`` only, ignores the stale tables and returns the same labels
    and a ``pairs`` projection that resolves."""
    before = run_linkage(spark, _corpus(spark, 36), LinkageConfig(checkpoint_dir=small_ckpt))
    labels = {r.id: r.cluster_id for r in before["clusters"].collect()}
    pairs = sorted(map(tuple, before["pairs"].collect()))
    ckpt = str(tmp_path / "ckpt")
    shutil.copytree(small_ckpt, ckpt)
    before["pairs"].write.parquet(os.path.join(ckpt, "pairs"))
    before["edges"].write.parquet(os.path.join(ckpt, "edges"))
    for part in glob.glob(os.path.join(ckpt, "scored", "part-*.parquet")):
        table = pq.read_table(part).drop_columns(["n_keys"])
        # the Spark schema the writer stored in the footer loses n_keys too
        spark_schema = json.loads(table.schema.metadata[SPARK_SCHEMA_KEY])
        spark_schema["fields"] = [f for f in spark_schema["fields"] if f["name"] != "n_keys"]
        table = table.replace_schema_metadata({SPARK_SCHEMA_KEY: json.dumps(spark_schema)})
        pq.write_table(table, part)
        # Hadoop's local file system checks a file against its .crc sidecar
        os.remove(os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc"))

    cfg = LinkageConfig(checkpoint_dir=ckpt)
    out = run_linkage(spark, _corpus(spark, 36), cfg)
    assert set(cfg.stage_times) == {"scored"}
    assert {r.id: r.cluster_id for r in out["clusters"].collect()} == labels
    assert sorted(map(tuple, out["pairs"].collect())) == pairs
    assert "n_keys" in out["warehouse"].read("scored").columns


def test_incremental_matches_full_batch(spark, tmp_path):
    """run_incremental_linkage (delta vs checkpointed base) reproduces the
    full-batch labels exactly, recomputing no base stage."""
    import pyspark.sql.functions as F

    from levenshtein_spark.plans.linkage import run_incremental_linkage

    src = code_files_df(spark, num_clusters=25, seed=7)
    full_cfg = LinkageConfig(
        checkpoint_dir=str(tmp_path / "full"), k_content=K_CONTENT,
        hot_threshold=150,
    )
    full = run_linkage(spark, src, full_cfg)
    want = {r.id: r.cluster_id for r in full["clusters"].collect()}

    is_delta = F.pmod(F.xxhash64("path"), F.lit(4)) == 0
    ckpt = str(tmp_path / "incr")
    base_cfg = LinkageConfig(
        checkpoint_dir=ckpt, k_content=K_CONTENT, hot_threshold=150
    )
    run_linkage(spark, src.where(~is_delta), base_cfg)
    incr_cfg = LinkageConfig(
        checkpoint_dir=ckpt, k_content=K_CONTENT, hot_threshold=150
    )
    out = run_incremental_linkage(spark, src.where(is_delta), incr_cfg)
    got = {r.id: r.cluster_id for r in out["clusters"].collect()}
    assert got == want
    assert set(incr_cfg.stage_times) == {
        "delta_normalized",
        "delta_blocks",
        "delta_scored",
        "delta_clusters",
        "delta_all_normalized",
        "delta_all_blocks",
        "delta_all_scored",
    }, "incremental must not recompute base stages"
    # the merged scored table is the full batch's, n_keys included
    cols = list(full["scored"].columns)
    assert sorted(map(tuple, out["all_scored"].select(cols).collect())) == sorted(
        map(tuple, full["scored"].collect())
    )

    # guard: an id already in the base must raise, not silently duplicate
    with pytest.raises(ValueError, match="already exist in the base"):
        run_incremental_linkage(
            spark, src.where(~is_delta).limit(3), incr_cfg, batch_id="dupe_batch"
        )

    # guard: reusing a batch_id with a DIFFERENT delta must raise, not
    # silently return the first batch's checkpointed tables
    with pytest.raises(ValueError, match="different delta"):
        run_incremental_linkage(spark, src.where(is_delta).limit(3), incr_cfg)


def test_incremental_chained_batches(spark, tmp_path):
    """Two day-over-day deltas chained via base_prefix reproduce the
    full-batch labels; day 2 reuses day 1's merged tables."""
    import pyspark.sql.functions as F

    from levenshtein_spark.plans.linkage import run_incremental_linkage

    src = code_files_df(spark, num_clusters=20, seed=13)
    full_cfg = LinkageConfig(
        checkpoint_dir=str(tmp_path / "full"), k_content=K_CONTENT,
        hot_threshold=150,
    )
    want = {
        r.id: r.cluster_id
        for r in run_linkage(spark, src, full_cfg)["clusters"].collect()
    }

    bucket = F.pmod(F.xxhash64("path"), F.lit(3))
    ckpt = str(tmp_path / "chain")
    cfg = LinkageConfig(
        checkpoint_dir=ckpt, k_content=K_CONTENT, hot_threshold=150
    )
    run_linkage(spark, src.where(bucket == 0), cfg)
    run_incremental_linkage(spark, src.where(bucket == 1), cfg, batch_id="day1")
    out = run_incremental_linkage(
        spark, src.where(bucket == 2), cfg, batch_id="day2", base_prefix="day1_all_"
    )
    got = {r.id: r.cluster_id for r in out["clusters"].collect()}
    assert got == want


def test_resume_from_mid_pipeline(spark, tmp_path):
    import shutil, os

    ckpt = str(tmp_path / "ckpt2")
    src = code_files_df(spark, num_clusters=25, seed=9)
    cfg = LinkageConfig(checkpoint_dir=ckpt, k_content=K_CONTENT)
    out = run_linkage(spark, src, cfg)
    full = {r.id: r.cluster_id for r in out["clusters"].collect()}

    # Kill everything after 'blocks' — simulates a job dying mid-pipeline.
    for stage in ("scored", "clusters", "metrics_scored", "metrics_clusters"):
        p = os.path.join(ckpt, stage)
        if os.path.exists(p):
            shutil.rmtree(p)

    cfg2 = LinkageConfig(checkpoint_dir=ckpt, k_content=K_CONTENT)
    out2 = run_linkage(spark, src, cfg2)
    resumed = {r.id: r.cluster_id for r in out2["clusters"].collect()}
    assert resumed == full
    assert set(cfg2.stage_times) == {"scored", "clusters"}


def test_cluster_method_pivot(spark, tmp_path):
    """cluster_method="pivot" forms entities with KwikCluster over the same
    verified edge stage, on the pipeline's real sha-hex string ids — checked
    against the serial KwikCluster reference on the collected edge set."""
    from tests.test_er_clustering import _brute_kwik

    src = code_files_df(spark, num_clusters=25, seed=7)
    cfg = LinkageConfig(
        checkpoint_dir=str(tmp_path / "ckpt"),
        k_content=K_CONTENT,
        hot_threshold=150,
        cluster_method="pivot",
    )
    out = run_linkage(spark, src, cfg)
    ids = [r.id for r in out["normalized"].select("id").collect()]
    edges = [(r.src, r.dst) for r in out["edges"].select("src", "dst").collect()]
    got = {r.id: r.cluster_id for r in out["clusters"].collect()}
    assert got == _brute_kwik(ids, edges)
    # pivot never merges two whole clusters through one bridge: every member
    # is a verified neighbor of its pivot
    nbrs = set(edges) | {(b, a) for a, b in edges}
    for v, p in got.items():
        assert v == p or (v, p) in nbrs


def test_incremental_reads_base_normalized_with_content(spark, small_ckpt, tmp_path):
    """A base ``normalized`` written with every source column (a warehouse
    of an earlier version of the plan) still unions with the slim delta
    records, and the merged table the next batch reads is slim."""
    from levenshtein_spark.plans.linkage import run_incremental_linkage

    full = run_linkage(spark, _corpus(spark, 48), LinkageConfig(checkpoint_dir=str(tmp_path / "full")))
    want = {r.id: r.cluster_id for r in full["clusters"].collect()}
    ckpt = str(tmp_path / "incr")
    shutil.copytree(small_ckpt, ckpt)
    normalize(_corpus(spark, 36)).write.mode("overwrite").parquet(os.path.join(ckpt, "normalized"))

    out = run_incremental_linkage(spark, _corpus(spark, 48, 36), LinkageConfig(checkpoint_dir=ckpt))
    assert {r.id: r.cluster_id for r in out["clusters"].collect()} == want
    assert tuple(out["all_normalized"].columns) == RECORD_COLUMNS
    assert "content" not in out["warehouse"].read("delta_all_normalized").columns
