"""Large-star/small-star connected components vs a union-find oracle."""

import numpy as np
import pytest

from levenshtein_spark.operators.clustering import cluster_labels, connected_components



# Heavy module (multi-second Spark jobs / hypothesis sweeps): excluded
# from the fast gate `pytest -m "not slow"` (README: Testing).
pytestmark = pytest.mark.slow

class DSU:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _gold(edge_list, all_nodes):
    dsu = DSU()
    for a, b in edge_list:
        dsu.union(a, b)
    comp = {}
    for n in all_nodes:
        comp.setdefault(n, dsu.find(n))
    # canonical root = min member
    groups = {}
    for n, r in comp.items():
        groups.setdefault(dsu.find(r), []).append(n)
    return {n: min(members) for r, members in groups.items() for n in members}


@pytest.mark.parametrize("n,m,seed", [(50, 40, 0), (200, 150, 1), (300, 600, 2)])
def test_cc_matches_union_find(spark, n, m, seed):
    rng = np.random.default_rng(seed)
    edge_list = [
        (f"n{int(a):04d}", f"n{int(b):04d}")
        for a, b in rng.integers(0, n, (m, 2))
        if a != b
    ]
    nodes = sorted({x for e in edge_list for x in e})
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    gold = _gold(edge_list, nodes)
    assert got == gold


def test_cc_long_chain(spark):
    # Worst case for naive propagation; star algorithm must converge in O(log n).
    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(120)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    got = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert set(got.values()) == {"c000"}
    assert len(got) == 121


def test_cc_stats_count_only_rounds_that_changed(spark):
    """A 5-node chain becomes the star rooted at n00 after two rounds; the
    third round's no-change check is neither a round nor an edge count."""
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(4)]
    stats: dict = {}
    connected_components(spark.createDataFrame(chain, "src string, dst string"), stats=stats).count()
    assert stats == {"rounds": 2, "edges_per_round": [4, 4, 4]}
    # a single edge is already a star: no round does anything
    stats = {}
    connected_components(spark.createDataFrame([("a", "b")], "src string, dst string"), stats=stats).count()
    assert stats == {"rounds": 0, "edges_per_round": [1]}


def test_cc_empty(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    assert connected_components(edges).count() == 0


def test_cluster_labels_includes_singletons(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], ["id"])
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r.id: r.cluster_id for r in cluster_labels(ids, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_cc_reliable_checkpoint_matches_local(spark, tmp_path):
    """checkpoint_dir mode (reliable parquet rounds) == localCheckpoint mode,
    and the round tables actually land on disk."""
    rng = np.random.default_rng(9)
    edge_list = [
        (f"n{int(a):04d}", f"n{int(b):04d}")
        for a, b in rng.integers(0, 150, (120, 2))
        if a != b
    ]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    ckpt = str(tmp_path / "cc")
    got_reliable = {
        r.id: r.cluster_id
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    got_local = {r.id: r.cluster_id for r in connected_components(edges).collect()}
    assert got_reliable == got_local
    rounds = sorted(p.name for p in (tmp_path / "cc").iterdir())
    assert rounds and rounds[0] == "cc_round_000"
