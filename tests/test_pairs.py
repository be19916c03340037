"""Candidate-pair generation: the triangle salted join must be lossless —
exactly the same pair set whether a block is treated as hot or normal."""

import pyspark.sql.functions as F

from levenshtein_spark.operators.blocking import exploded_blocks
from levenshtein_spark.operators.normalize import normalize
from levenshtein_spark.operators.pairs import candidate_pairs
from levenshtein_spark.sources.code_files import code_files_df


def _pair_set(df):
    return {(r.id_a, r.id_b) for r in df.select("id_a", "id_b").collect()}


def test_salted_join_is_lossless(spark):
    src = code_files_df(spark, num_clusters=40, seed=7)
    blocks = exploded_blocks(normalize(src)).cache()

    plain = candidate_pairs(blocks, hot_threshold=10**9)  # nothing hot
    salted = candidate_pairs(blocks, hot_threshold=1)  # every block of >= 2 rows hot

    ps, ss = _pair_set(plain), _pair_set(salted)
    assert ps == ss
    assert len(ps) > 0


def test_pairs_are_ordered_and_distinct(spark):
    src = code_files_df(spark, num_clusters=30, seed=3)
    blocks = exploded_blocks(normalize(src))
    pairs = candidate_pairs(blocks).cache()
    n = pairs.count()
    assert pairs.where(F.col("id_a") >= F.col("id_b")).count() == 0
    assert pairs.select("id_a", "id_b").distinct().count() == n


def test_generator_determinism_and_skew(spark):
    a = code_files_df(spark, num_clusters=50, seed=42).collect()
    b = code_files_df(spark, num_clusters=50, seed=42, partitions=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # hot repo really is hot (skew fixture property)
    from levenshtein_spark.sources.code_files import HOT_REPO

    hot = sum(1 for r in a if r.repo == HOT_REPO)
    assert hot / len(a) > 0.15


def test_candidate_pairs_lr_matches_bruteforce(spark):
    """Bipartite salted candidates == brute-force distinct key-sharing
    pairs, including a deliberately hot key routed through the salt path."""
    import numpy as np
    import pyspark.sql.functions as F

    rng = np.random.default_rng(4)
    rows_l, rows_r = [], []
    for i in range(300):
        rows_l.append((f"k{int(rng.integers(0, 8))}", f"L{i:03d}"))
    for j in range(200):
        rows_r.append((f"k{int(rng.integers(0, 8))}", f"R{j:03d}"))
    # hot key on both sides
    rows_l += [("hot", f"LH{i:03d}") for i in range(60)]
    rows_r += [("hot", f"RH{j:03d}") for j in range(50)]

    from levenshtein_spark.operators.pairs import candidate_pairs_lr

    bl = spark.createDataFrame(rows_l, "block_key string, id string")
    br = spark.createDataFrame(rows_r, "block_key string, id string")
    got = {
        (r.id_l, r.id_r)
        for r in candidate_pairs_lr(bl, br, hot_threshold=500).collect()
    }
    exp = {
        (il, ir)
        for kl, il in rows_l
        for kr, ir in rows_r
        if kl == kr
    }
    assert got == exp
    assert any(a.startswith("LH") for a, _ in got)  # hot path exercised


def test_fuzzy_join_two_tables(spark):
    from levenshtein_spark.operators.pairs import fuzzy_join

    left = spark.createDataFrame(
        [(1, "b1", "hello world"), (2, "b1", "totally different"), (3, "b2", "abc")],
        "id long, blk string, txt string",
    )
    right = spark.createDataFrame(
        [(10, "b1", "hello wxrld"), (11, "b2", "abd"), (12, "b2", "zzzzzz")],
        "id long, blk string, txt string",
    )
    got = {
        (r.id_l, r.id_r, r.dist)
        for r in fuzzy_join(left, right, key_col="blk", text_col="txt", k=2).collect()
    }
    assert got == {(1, 10, 1), (3, 11, 1)}


def test_salt_rule_is_lossless_across_thresholds(spark):
    """The salt count comes from the census (S = ceil(load / T)), so every
    threshold must give the exact (pair, n_keys) multiset of no salting —
    self core on blocks 100x apart in size, one of them past _MAX_SALTS at
    T = 1, and bipartite core with a key whose ceil(n_l*n_r/T) exceeds n_l
    (S capped at n_l), where every cross meeting must appear exactly once."""
    from collections import Counter

    from levenshtein_spark.operators.pairs import _MAX_SALTS, _lr_meetings

    rows = (
        [("giant", i) for i in range(300)]
        + [("warm", 1000 + i) for i in range(12)]
        + [("cold", 2000 + i) for i in range(3)]
        # ids shared with the giant block: pairs met under two keys
        + [("overlap", i) for i in range(0, 300, 37)]
    )
    assert 300 > _MAX_SALTS
    blocks = spark.createDataFrame(rows, "block_key string, id long")

    def keyed(df):
        return Counter((r.id_a, r.id_b, r.n_keys) for r in df.collect())

    plain = keyed(candidate_pairs(blocks, hot_threshold=10**9))
    assert sum(plain.values()) == 300 * 299 // 2 + 12 * 11 // 2 + 3 * 2 // 2
    assert any(n == 2 for _, _, n in plain)
    for t in (1, 5, 40, 299):
        assert keyed(candidate_pairs(blocks, hot_threshold=t)) == plain, t

    rows_l = [("narrow", i) for i in range(5)] + [("wide", 100 + i) for i in range(30)]
    rows_r = [("narrow", 500 + j) for j in range(40)] + [("wide", 600 + j) for j in range(20)]
    rows_r += [("right_only", 700 + j) for j in range(4)]
    bl = spark.createDataFrame(rows_l, "block_key string, id long")
    br = spark.createDataFrame(rows_r, "block_key string, id long")
    exp = Counter((il, ir) for kl, il in rows_l for kr, ir in rows_r if kl == kr)
    # T = 10: narrow has ceil(5*40/10) = 20 > n_l = 5, so S = 5
    for t in (10**9, 1, 10, 150):
        got = Counter((r.id_l, r.id_r) for r in _lr_meetings(bl, br, t).collect())
        assert got == exp, t


def test_salt_count_rule(spark):
    """The one rule, pinned on census values: S = min(ceil(load / T), caps,
    _MAX_SALTS); a threshold below 1 raises before any job runs."""
    import pytest

    from levenshtein_spark.operators.pairs import _salt_count, candidate_pairs_lr

    cases = [
        # (load, T, extra caps, S)
        (80, 30, [], 3),  # link_batch hot MinHash blocks
        (66, 30, [], 3),
        (120, 30, [], 4),
        (87, 30, [], 3),
        (377, 50, [], 8),  # largest doc block at sf0.1
        (8000, 500, [], 16),  # the skew rehearsal's giant block
        (31, 30, [], 2),
        (2, 1, [], 2),
        (300, 1, [], 256),  # _MAX_SALTS
        (57 * 57, 500, [57], 7),  # bipartite, fan-out rules
        (5 * 40, 10, [5], 5),  # bipartite, capped at n_l
        (1 * 900, 100, [1], 1),
    ]
    got = spark.range(1).select(
        *[
            _salt_count(F.lit(load), t, *[F.lit(c) for c in caps]).alias(f"s{i}")
            for i, (load, t, caps, _) in enumerate(cases)
        ]
    ).first()
    assert list(got) == [s for *_, s in cases]

    blocks = spark.createDataFrame([("k", 1), ("k", 2)], "block_key string, id long")
    with pytest.raises(ValueError, match="hot_threshold"):
        candidate_pairs(blocks, hot_threshold=0)
    with pytest.raises(ValueError, match="hot_threshold"):
        candidate_pairs_lr(blocks, blocks, hot_threshold=0)


def test_one_to_one_mutual_best(spark):
    """Mutual-best keeps exactly the pairs that are argmin on BOTH sides,
    ties broken by the other record's id."""
    from levenshtein_spark.operators.pairs import one_to_one

    cand = spark.createDataFrame(
        [
            (1, 10, 0),  # 1's best and 10's best -> kept
            (1, 11, 1),
            (2, 11, 0),  # kept
            (3, 12, 1),  # tie with (4,12,1): 12's best is 3 (lower id)
            (4, 12, 1),  # 4's best, but 12 prefers 3 -> dropped; 4 unmatched
            (3, 13, 1),  # 3's best is 12 (tie on dist, lower id) -> dropped
        ],
        "id_l long, id_r long, dist long",
    )
    got = {(r.id_l, r.id_r, r.dist) for r in one_to_one(cand).collect()}
    assert got == {(1, 10, 0), (2, 11, 0), (3, 12, 1)}
    # no id appears twice on either side
    assert len({a for a, _, _ in got}) == len(got) == len({b for _, b, _ in got})


def test_candidate_pairs_annotated_parity_and_payload(spark):
    """With an always-true predicate the annotated generator must produce
    the identical (pair, key-count) set as the slim one (hot + normal
    paths; the annotated column is named n_passing_keys since it counts
    passing meetings only — equal to n_keys under an always-true predicate),
    and payload columns must follow their ids through canonicalization."""
    import random

    from levenshtein_spark.operators.pairs import (
        candidate_pairs_annotated,
        candidate_pairs,
    )

    rng = random.Random(3)
    rows = [(f"k{rng.randint(0, 5)}", i, i * 10) for i in range(200)]
    # k0 gets a hot pile
    rows += [("k0", 1000 + i, (1000 + i) * 10) for i in range(60)]
    blocks = spark.createDataFrame(rows, "block_key string, id long, tag long")

    slim = {
        (r.id_a, r.id_b, r.n_keys)
        for r in candidate_pairs(blocks, hot_threshold=40).collect()
    }
    ann = candidate_pairs_annotated(
        blocks, lambda m: F.lit(True), hot_threshold=40
    ).collect()
    assert {(r.id_a, r.id_b, r.n_passing_keys) for r in ann} == slim

    # payload orientation: tag_x must equal id_x * 10 on every meeting — use
    # a predicate that FAILS when payloads are swapped
    ok = candidate_pairs_annotated(
        blocks,
        lambda m: (F.col("tag_a") == F.col("id_a") * 10)
        & (F.col("tag_b") == F.col("id_b") * 10),
        hot_threshold=40,
    ).collect()
    assert {(r.id_a, r.id_b, r.n_passing_keys) for r in ok} == slim


def test_candidate_pairs_lr_annotated_parity(spark):
    from levenshtein_spark.operators.pairs import (
        candidate_pairs_lr,
        candidate_pairs_lr_annotated,
    )

    l = spark.createDataFrame(
        [("a", i, i + 100) for i in range(30)] + [("b", 99, 199)],
        "block_key string, id long, w long",
    )
    r = spark.createDataFrame(
        [("a", 1000 + i, 1000 + i + 100) for i in range(25)],
        "block_key string, id long, w long",
    )
    slim = {
        (x.id_l, x.id_r)
        for x in candidate_pairs_lr(
            l.select("block_key", "id"), r.select("block_key", "id"),
            hot_threshold=10,
        ).collect()
    }
    ann = candidate_pairs_lr_annotated(
        l, r,
        lambda m: (F.col("w_l") == F.col("id_l") + 100)
        & (F.col("w_r") == F.col("id_r") + 100),
        hot_threshold=10,
    ).collect()
    assert {(x.id_l, x.id_r) for x in ann} == slim


def test_annotated_selective_predicate_matches_bruteforce(spark):
    """A predicate that rejects some key meetings: both annotated operators
    must match a brute-force oracle over every (key, pair) meeting, on hot
    (salted) and normal blocks alike, with the payload taken per (key, id)."""
    import random

    from levenshtein_spark.operators.pairs import (
        candidate_pairs_annotated,
        candidate_pairs_lr_annotated,
    )

    def tag(key, i):
        return (i * 7 + int(key[1:])) % 11

    def rows_for(ids, rng):
        rows = []
        for i in ids:
            for k in {f"k{rng.randint(1, 6)}" for _ in range(rng.randint(1, 3))}:
                rows.append((k, i, tag(k, i)))
        return rows

    rng = random.Random(5)
    rows = rows_for(range(120), rng) + [("k0", i, tag("k0", i)) for i in range(20, 120)]
    blocks = spark.createDataFrame(rows, "block_key string, id long, tag long")

    by_key = {}
    for k, i, t in rows:
        by_key.setdefault(k, []).append((i, t))
    # only k0 takes the triangle salt
    assert max(len(v) for k, v in by_key.items() if k != "k0") <= 60 < len(by_key["k0"])
    n_keys, n_pass = {}, {}
    for members in by_key.values():
        for ia, ta in members:
            for ib, tb in members:
                if ia < ib:
                    n_keys[(ia, ib)] = n_keys.get((ia, ib), 0) + 1
                    if (ta + tb) % 3:
                        n_pass[(ia, ib)] = n_pass.get((ia, ib), 0) + 1
    got = {
        (r.id_a, r.id_b, r.n_passing_keys)
        for r in candidate_pairs_annotated(
            blocks,
            lambda m: (F.col("tag_a") + F.col("tag_b")) % 3 != 0,
            hot_threshold=60,
        ).collect()
    }
    assert got == {(a, b, n) for (a, b), n in n_pass.items()}
    assert len(n_pass) < len(n_keys)  # some pairs rejected outright
    assert any(0 < n < n_keys[p] for p, n in n_pass.items())  # partly passing

    rows_r = rows_for(range(1000, 1080), rng) + [
        ("k0", i, tag("k0", i)) for i in range(1000, 1040)
    ]
    size_r = {}
    for k, _, _ in rows_r:
        size_r[k] = size_r.get(k, 0) + 1
    fan_out = {k: len(v) * size_r[k] for k, v in by_key.items()}
    # only k0 takes the bipartite salt
    assert max(n for k, n in fan_out.items() if k != "k0") <= 2000 < fan_out["k0"]
    blocks_r = spark.createDataFrame(rows_r, "block_key string, id long, tag long")
    exp = {
        (il, ir)
        for kl, il, tl in rows
        for kr, ir, tr in rows_r
        if kl == kr and (tl + tr) % 3
    }
    shared = {(il, ir) for kl, il, _ in rows for kr, ir, _ in rows_r if kl == kr}
    got_lr = {
        (r.id_l, r.id_r)
        for r in candidate_pairs_lr_annotated(
            blocks,
            blocks_r,
            lambda m: (F.col("tag_l") + F.col("tag_r")) % 3 != 0,
            hot_threshold=2000,
        ).collect()
    }
    assert got_lr == exp
    assert exp < shared


def _plan_nodes(df) -> list:
    """Every node of ``df``'s executed physical plan, run first so AQE's
    plan is final, descending into its query stages."""
    df.write.format("noop").mode("overwrite").save()
    stack, nodes = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        nodes.append(node)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def _carries_ids(node) -> bool:
    out = node.output()
    return any(out.apply(i).name().startswith("id") for i in range(out.size()))


def test_each_core_runs_one_pair_join(spark):
    """A cold key is the S = 1 case of the salted join: with one hot key
    and several cold ones, each core's plan holds exactly one join of two
    record streams, and neither a union of two branches nor a cache."""
    from levenshtein_spark.operators.pairs import candidate_pairs_lr

    rows = [("hot", i) for i in range(40)] + [(f"k{i % 5}", 100 + i) for i in range(30)]
    blocks = spark.createDataFrame(rows, "block_key string, id long")
    for df in (
        candidate_pairs(blocks, hot_threshold=10),
        candidate_pairs_lr(blocks, blocks, hot_threshold=100),
    ):
        nodes = _plan_nodes(df)
        names = [n.nodeName() for n in nodes]
        pair_joins = [
            n for n in nodes
            if n.nodeName().endswith("Join") and _carries_ids(n.left()) and _carries_ids(n.right())
        ]
        assert len(pair_joins) == 1, names
        assert "Union" not in names, names
        assert not any(n.startswith("InMemory") for n in names), names
