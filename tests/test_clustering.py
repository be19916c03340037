"""Large-star/small-star connected components vs a union-find oracle."""

import numpy as np
import pytest

from levenshtein_spark.operators import clustering
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


def _chain_and_edge_stats(spark):
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(4)]
    stats: dict = {}
    connected_components(spark.createDataFrame(chain, "src string, dst string"), stats=stats).count()
    edge: dict = {}
    connected_components(spark.createDataFrame([("a", "b")], "src string, dst string"), stats=edge).count()
    return stats, edge


def test_cc_stats_count_only_rounds_that_changed(spark):
    """``edges_per_round`` is [canonical, after the local pass, after each
    star round that changed the edge set]; ``rounds`` counts those star
    rounds. At the default bucket size a 5-node chain is one bucket, and the
    local pass alone turns it into the star rooted at n00; a single edge is
    already a star."""
    chain, edge = _chain_and_edge_stats(spark)
    assert chain == {"rounds": 0, "edges_per_round": [4, 4]}
    assert edge == {"rounds": 0, "edges_per_round": [1, 1]}


def test_cc_stats_count_only_rounds_that_changed_forced_buckets(spark, monkeypatch):
    """One edge per bucket hashes the chain into the buckets {n00-n01},
    {n01-n02, n02-n03} and {n03-n04}; their stars n00-n01, n01-n02, n01-n03
    and n03-n04 take two star rounds to become the star rooted at n00. The
    final no-change check is neither a round nor an edge count. A single
    edge is one bucket at any size."""
    monkeypatch.setattr(clustering, "_EDGES_PER_BUCKET", 1)
    chain, edge = _chain_and_edge_stats(spark)
    assert chain == {"rounds": 2, "edges_per_round": [4, 4, 4, 4]}
    assert edge == {"rounds": 0, "edges_per_round": [1, 1]}


def _random_edges(n, m, seed, as_long):
    rng = np.random.default_rng(seed)
    pairs = [(int(a), int(b)) for a, b in rng.integers(0, n, (m, 2)) if a != b]
    return pairs if as_long else [(f"n{a:04d}", f"n{b:04d}") for a, b in pairs]


def _messy_edges():
    """Duplicates, reversed duplicates and self-loops around three components."""
    base = _random_edges(120, 90, 3, as_long=False)
    return base + base[:30] + [(b, a) for a, b in base[30:60]] + [(a, a) for a, _ in base[:20]]


FORCED_GRAPHS = {
    "random_string": lambda: _random_edges(300, 400, 4, as_long=False),
    "random_long": lambda: _random_edges(300, 400, 5, as_long=True),
    "messy": _messy_edges,
    "chain_10k": lambda: [(i, i + 1) for i in range(10_000)],
    "star_2k": lambda: [(0, leaf) for leaf in range(1, 2_001)],
}


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
@pytest.mark.parametrize("graph", sorted(FORCED_GRAPHS))
def test_cc_forced_buckets_match_union_find(spark, monkeypatch, tmp_path, graph, reliable):
    """About four buckets per graph, so the star loop runs on what crosses
    buckets; labels still equal the union-find closure in both modes."""
    edge_list = FORCED_GRAPHS[graph]()
    monkeypatch.setattr(clustering, "_EDGES_PER_BUCKET", len(edge_list) // 4 + 1)
    ckpt = str(tmp_path / "cc") if reliable else None
    id_type = "long" if isinstance(edge_list[0][0], int) else "string"
    edges = spark.createDataFrame(edge_list, f"src {id_type}, dst {id_type}")
    got = {r.id: r.cluster_id for r in connected_components(edges, checkpoint_dir=ckpt).collect()}
    nodes = {x for a, b in edge_list if a != b for x in (a, b)}
    assert got == _gold([e for e in edge_list if e[0] != e[1]], sorted(nodes))
    if reliable:  # the star loop ran after the local pass
        assert (tmp_path / "cc" / "cc_round_002").is_dir()


def test_cc_empty(spark):
    edges = spark.createDataFrame([], "src string, dst string")
    assert connected_components(edges).count() == 0


def test_cluster_labels_includes_singletons(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], ["id"])
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r.id: r.cluster_id for r in cluster_labels(ids, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def _reliable_vs_local(spark, tmp_path):
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
    return sorted(p.name for p in (tmp_path / "cc").iterdir())


def test_cc_reliable_checkpoint_matches_local(spark, tmp_path):
    """checkpoint_dir mode (reliable parquet rounds) == localCheckpoint mode,
    and the round tables actually land on disk: one bucket closes the graph
    in the local pass, so no star round runs."""
    assert _reliable_vs_local(spark, tmp_path) == ["cc_round_000", "cc_round_001"]


def test_cc_reliable_checkpoint_matches_local_forced_buckets(spark, tmp_path, monkeypatch):
    """The same with 16 edges per bucket: the star loop runs after the local
    pass, and its rounds land on disk too."""
    monkeypatch.setattr(clustering, "_EDGES_PER_BUCKET", 16)
    rounds = _reliable_vs_local(spark, tmp_path)
    assert rounds[:3] == ["cc_round_000", "cc_round_001", "cc_round_002"]
