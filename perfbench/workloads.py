"""Seeded inputs and the two timed workloads.

Every workload is prepared untimed (inputs written to parquet, reference
answers computed), then timed one call at a time through the package's public
entry points. Each timed call is followed, outside the timed window, by its
output checks; a call that raises or fails a check counts as failed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from levenshtein_spark.operators.closest import min_edit_dist_t
from levenshtein_spark.oracle import ref_edit_distance
from levenshtein_spark.plans.linkage import LinkageConfig, run_linkage
from levenshtein_spark.sources.code_files import SCHEMA, generate_cluster_rows
from levenshtein_spark.sources.tables import Warehouse

CODE_COLUMNS = [c.split()[0] for c in SCHEMA.split(",")]
SOURCE_FILES = 4
CLOSEST_K = 5
ORACLE_PROBES = 6
KERNEL_SAMPLE = 20_000


@dataclass(frozen=True)
class Sizes:
    # row counts are fixed, not cluster counts, so that input size does not
    # vary with the seed
    link_rows: int
    # low enough that the corpus's largest MinHash-band blocks take the
    # triangle-salted join (checked on every link_batch call), high enough
    # that the length-band blocks stay on the plain self-join
    hot_threshold: int
    # closest_match scores every probe against every distinct path base of a
    # corpus of closest_rows rows in one cross join, so Arrow and the kernel,
    # not scheduling, dominate that workload. Many probes against few
    # candidates keep match_f1, a share of recovered probes, steady across
    # seeds for the same number of scored pairs.
    closest_rows: int
    closest_probes: int


FULL = Sizes(link_rows=1000, hot_threshold=30, closest_rows=250, closest_probes=1920)
TINY = Sizes(link_rows=400, hot_threshold=12, closest_rows=100, closest_probes=80)


class CheckFailed(Exception):
    """An output check of a timed call failed."""


def row_id(r: dict) -> str:
    """The id ``operators.normalize`` derives for a code_files row."""
    return hashlib.sha256("\x1f".join((r["repo"], r["path"], r["commit"])).encode()).hexdigest()


def generate(n_rows: int, seed: int) -> tuple[list[dict], dict[str, int]]:
    """The first ``n_rows`` corpus rows plus each row id's true cluster."""
    rows, truth = [], {}
    cid = 0
    while len(rows) < n_rows:
        for r in generate_cluster_rows(cid, seed)[: n_rows - len(rows)]:
            rows.append(r)
            truth[row_id(r)] = cid
        cid += 1
    return rows, truth


def write_parquet(rows: list[dict], path: str, columns: list[str], files: int = 1) -> int:
    """Write ``rows`` as ``files`` parquet files under ``path``; returns bytes."""
    os.makedirs(path)
    schema = pa.schema([(c, pa.string()) for c in columns])
    for i in range(files):
        pq.write_table(
            pa.Table.from_pylist(rows[i::files], schema=schema),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )
    return dir_bytes(path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def digest(mapping: dict) -> str:
    return hashlib.sha256(
        "\n".join(f"{k},{v}" for k, v in sorted(mapping.items())).encode()
    ).hexdigest()


def f1(hits: int, predicted: int, actual: int) -> float:
    precision, recall = hits / max(predicted, 1), hits / max(actual, 1)
    return 2 * precision * recall / max(precision + recall, 1e-12)


def pairwise_f1(labels: dict[str, str], truth: dict[str, int]) -> float:
    """Pairwise co-cluster F1 of predicted labels against true clusters."""

    def pairs(counts: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counts.values())

    return f1(
        pairs(Counter((labels[i], truth[i]) for i in labels)),
        pairs(Counter(labels.values())),
        pairs(Counter(truth[i] for i in labels)),
    )


def collect_labels(clusters, expected_ids: set[str]) -> dict[str, str]:
    rows = clusters.select("id", "cluster_id").collect()
    labels = {r.id: r.cluster_id for r in rows}
    if len(labels) != len(rows) or labels.keys() != expected_ids:
        raise CheckFailed(
            f"labels cover {len(labels)} ids in {len(rows)} rows, expected {len(expected_ids)}"
        )
    return labels


class Workload:
    """One seeded workload: ``prepare`` once, then ``call`` + ``check`` per rep.

    ``inputs`` records what a later run on another seed needs for comparison.
    """

    name = ""
    # the layer that owns the call's jobs outside every run_stage span
    outside_layer = ""

    def __init__(self, seed: int, work: str, sizes: Sizes):
        self.seed = seed
        self.work = work
        self.sizes = sizes
        self.inputs: dict = {"seed": seed}
        self.expected_digest: str | None = None
        self.f1 = 0.0

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def call(self, spark, rep: int) -> dict:
        """The timed call; returns the DataFrames it wrote."""
        raise NotImplementedError

    def check(self, spark, out: dict) -> None:
        """Output checks of one call; also sets ``f1``."""
        raise NotImplementedError

    def written(self, rep: int) -> list[str]:
        """The warehouse tables the rep's call wrote."""
        ckpt = self.ckpt(rep)
        return [os.path.join(ckpt, t) for t in sorted(os.listdir(ckpt))] if os.path.isdir(ckpt) else []

    def cleanup(self, rep: int) -> None:
        shutil.rmtree(self.ckpt(rep), ignore_errors=True)

    def layer_of(self, stage: str) -> str:
        return self.outside_layer

    def same_as_before(self, d: str) -> None:
        if self.expected_digest is None:
            self.expected_digest = d
        elif d != self.expected_digest:
            raise CheckFailed(f"{self.name}: output differs between runs of one seed")

    def ckpt(self, rep: int) -> str:
        return os.path.join(self.work, f"ckpt{rep}")


_STAGE_LAYERS = {
    "normalized": "normalize",
    "blocks": "blocking",
    "pairs": "pairs",
    "scored": "scoring",
    "edges": "scoring",
    "clusters": "clustering",
}


class LinkBatch(Workload):
    name = "link_batch"
    outside_layer = "checks"

    def layer_of(self, stage: str) -> str:
        return _STAGE_LAYERS[stage]

    def prepare(self, spark) -> None:
        rows, self.truth = generate(self.sizes.link_rows, self.seed)
        self.src = os.path.join(self.work, "source")
        self.inputs["input_rows"] = len(rows)
        self.inputs["source_bytes"] = write_parquet(rows, self.src, CODE_COLUMNS, SOURCE_FILES)

    def call(self, spark, rep: int) -> dict:
        cfg = LinkageConfig(
            checkpoint_dir=self.ckpt(rep), hot_threshold=self.sizes.hot_threshold, force=True
        )
        return run_linkage(spark, spark.read.parquet(self.src), cfg)

    def check(self, spark, out: dict) -> None:
        labels = collect_labels(out["clusters"], set(self.truth))
        self.same_as_before(digest(labels))
        self.f1 = pairwise_f1(labels, self.truth)
        if "candidate_pairs" not in self.inputs:
            sizes = out["blocks"].groupBy("block_key").count()
            self.inputs["candidate_pairs"] = out["pairs"].count()
            self.inputs["max_block_rows"] = int(sizes.agg(F.max("count")).first()[0])
        if self.inputs["max_block_rows"] <= self.sizes.hot_threshold:
            raise CheckFailed("no block exceeds hot_threshold, so the salted join never ran")


def _mangle(rng: np.random.Generator, s: str, n_edits: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    chars = list(s)
    for _ in range(n_edits):
        op = int(rng.integers(0, 3)) if chars else 0
        i = int(rng.integers(0, len(chars) + (op == 0)))
        if op == 0:
            chars.insert(i, letters[int(rng.integers(0, 26))])
        elif op == 1:
            del chars[i]
        else:
            chars[i] = letters[int(rng.integers(0, 26))]
    return "".join(chars)


class ClosestMatch(Workload):
    name = "closest_match"
    outside_layer = "closest"

    def prepare(self, spark) -> None:
        rows, _ = generate(self.sizes.closest_rows, self.seed)
        self.src = os.path.join(self.work, "source")
        # the call reads only the path column; file contents would make the
        # input bytes, and so ckpt_bytes_per_input_byte, swing with the seed
        source_bytes = write_parquet(rows, self.src, ["path"], SOURCE_FILES)
        self.cands = sorted({r["path"].rsplit("/", 1)[-1] for r in rows})
        rng = np.random.default_rng([self.seed, 7])
        n = self.sizes.closest_probes
        # three quarters are path bases with 1-5 edits, as many with each
        # count (origin known); the rest use an alphabet no path uses, so their
        # minimum hits the cap
        self.origin: dict[str, str | None] = {}
        while len(self.origin) < n * 3 // 4:
            base = self.cands[int(rng.integers(0, len(self.cands)))]
            self.origin.setdefault(_mangle(rng, base, 1 + len(self.origin) % 5), base)
        while len(self.origin) < n:
            chars = rng.integers(0, 32, int(rng.integers(8, 17)))
            self.origin["".join("0123456789ABCDEFGHJKMNPQRSTVWXYZ"[i] for i in chars)] = None
        self.probes = os.path.join(self.work, "probes")
        self.inputs["source_bytes"] = source_bytes + write_parquet(
            [{"probe": p} for p in self.origin], self.probes, ["probe"]
        )
        self.inputs["input_rows"] = n
        self.inputs["candidates"] = len(self.cands)
        probes = list(self.origin)
        self.oracle = {
            probes[i]: min((ref_edit_distance(probes[i], c, CLOSEST_K), c) for c in self.cands)
            for i in rng.choice(n, ORACLE_PROBES, replace=False)
        }

    def call(self, spark, rep: int) -> dict:
        cands = (
            spark.read.parquet(self.src)
            .select(F.element_at(F.split("path", "/"), -1).alias("cand"))
            .distinct()
        )
        best = min_edit_dist_t(spark.read.parquet(self.probes), cands, "probe", "cand", CLOSEST_K)
        wh = Warehouse(spark, self.ckpt(rep))
        wh.write(best, "closest")
        return {"closest": wh.read("closest")}

    def check(self, spark, out: dict) -> None:
        rows = out["closest"].collect()
        got = {r.probe: (r.dist, r.cand) for r in rows}
        if len(got) != len(rows) or got.keys() != self.origin.keys():
            raise CheckFailed(f"{len(rows)} result rows for {len(self.origin)} probes")
        for p, want in self.oracle.items():
            if got[p] != want:
                raise CheckFailed(f"closest({p!r}) = {got[p]}, oracle arg-min {want}")
        self.same_as_before(digest(got))
        # a probe -> candidate link is predicted when its distance is within k
        self.f1 = f1(
            sum(1 for p, (d, c) in got.items() if d <= CLOSEST_K and c == self.origin[p]),
            sum(1 for d, _ in got.values() if d <= CLOSEST_K),
            sum(1 for o in self.origin.values() if o is not None),
        )


WORKLOADS = {w.name: w for w in (LinkBatch, ClosestMatch)}


def kernel_pairs(workload: Workload, out: dict) -> tuple[list, list, int]:
    """A seeded sample of the pairs the workload's call scored with the
    kernel, as ``(a, b, k)`` for ``kernel.batch_edit_distance``."""
    if isinstance(workload, ClosestMatch):
        rng = np.random.default_rng([workload.seed, 11])
        probes = list(workload.origin)
        a = [probes[i] for i in rng.integers(0, len(probes), KERNEL_SAMPLE)]
        b = [workload.cands[i] for i in rng.integers(0, len(workload.cands), KERNEL_SAMPLE)]
        return a, b, CLOSEST_K
    payload = out["normalized"].select("id", "content_prefix")
    sample = (
        out["scored"]
        .where(~F.col("exact_dupe"))
        .select("id_a", "id_b")
        .orderBy(F.xxhash64("id_a", "id_b", F.lit(workload.seed)))
        .limit(KERNEL_SAMPLE)
        .join(payload.toDF("id_a", "a"), "id_a")
        .join(payload.toDF("id_b", "b"), "id_b")
        .select("a", "b")
        .collect()
    )
    return [r.a for r in sample], [r.b for r in sample], LinkageConfig.k_content
