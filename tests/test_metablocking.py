"""Meta-blocking pruning rules vs brute-force reference arithmetic.

The operator claims exact-integer WNP/WEP over CBS weights
(operators/metablocking.py); these tests recompute the rules with plain
Python over collected edges and assert identical surviving sets, plus the
structural properties the pruning theory promises.
"""

import itertools

import pyspark.sql.functions as F
import pytest

from levenshtein_spark.operators.metablocking import (
    node_weight_stats,
    purge_stats,
    weight_edge_prune,
    weighted_node_prune,
)
from levenshtein_spark.operators.pairs import candidate_pairs



# Heavy module (multi-second Spark jobs / hypothesis sweeps): excluded
# from the fast gate `pytest -m "not slow"` (README: Testing).
pytestmark = pytest.mark.slow

@pytest.fixture(scope="module")
def blocks(spark):
    # 12 records over 5 blocks with deliberate overlap: records 0-3 share
    # two blocks (strong edges), 4-9 share one big block (weak edges),
    # 10-11 are an isolated pair.
    rows = (
        [("b0", i) for i in range(4)]
        + [("b1", i) for i in range(4)]
        + [("big", i) for i in range(4, 10)]
        + [("big", 0)]
        + [("iso", 10), ("iso", 11)]
    )
    return spark.createDataFrame(rows, "block_key string, id long")


def brute_pairs(rows):
    from collections import Counter

    by_block = {}
    for k, i in rows:
        by_block.setdefault(k, []).append(i)
    w = Counter()
    for ids in by_block.values():
        for a, b in itertools.combinations(sorted(set(ids)), 2):
            w[(a, b)] += 1
    return dict(w)


def test_wnp_or_matches_brute_force(spark, blocks):
    rows = [(r.block_key, r.id) for r in blocks.collect()]
    w = brute_pairs(rows)
    # per-node incident sums
    sums, degs = {}, {}
    for (a, b), wt in w.items():
        for n in (a, b):
            sums[n] = sums.get(n, 0) + wt
            degs[n] = degs.get(n, 0) + 1
    exp_or = {
        p
        for p, wt in w.items()
        if wt * degs[p[0]] >= sums[p[0]] or wt * degs[p[1]] >= sums[p[1]]
    }
    exp_and = {
        p
        for p, wt in w.items()
        if wt * degs[p[0]] >= sums[p[0]] and wt * degs[p[1]] >= sums[p[1]]
    }
    weighted = candidate_pairs(blocks, hot_threshold=3).persist()
    got_or = {(r.id_a, r.id_b) for r in weighted_node_prune(weighted).collect()}
    got_and = {
        (r.id_a, r.id_b)
        for r in weighted_node_prune(weighted, mode="and").collect()
    }
    assert got_or == exp_or
    assert got_and == exp_and
    assert exp_and <= exp_or  # AND is strictly the precision-leaning subset


def test_wep_matches_brute_force(spark, blocks):
    rows = [(r.block_key, r.id) for r in blocks.collect()]
    w = brute_pairs(rows)
    total, n = sum(w.values()), len(w)
    exp = {p for p, wt in w.items() if wt * n >= total}
    weighted = candidate_pairs(blocks, hot_threshold=3)
    got = {(r.id_a, r.id_b) for r in weight_edge_prune(weighted).collect()}
    assert got == exp


def test_wnp_keeps_strong_drops_weak(spark, blocks):
    """The qualitative promise: double-keyed pairs survive, the big noisy
    block's single-key pairs are thinned, and every node keeps >= 1 edge
    (WNP-OR never isolates a connected node — its max-weight edge always
    clears its own mean)."""
    weighted = candidate_pairs(blocks, hot_threshold=100).persist()
    kept = weighted_node_prune(weighted).collect()
    kept_pairs = {(r.id_a, r.id_b) for r in kept}
    for a, b in itertools.combinations(range(4), 2):
        assert (a, b) in kept_pairs  # weight-2 edges all survive
    all_nodes = {r.id_a for r in weighted.collect()} | {
        r.id_b for r in weighted.collect()
    }
    kept_nodes = {r.id_a for r in kept} | {r.id_b for r in kept}
    assert kept_nodes == all_nodes


def test_node_weight_stats(spark, blocks):
    weighted = candidate_pairs(blocks, hot_threshold=100)
    stats = {r.id: (r.w_sum, r.degree) for r in node_weight_stats(weighted).collect()}
    # record 10 and 11: one edge of weight 1 each
    assert stats[10] == (1, 1) and stats[11] == (1, 1)
    # record 1: edges to 0,2,3 each weight 2 (blocks b0+b1)
    assert stats[1] == (6, 3)


def test_purge_stats_math(spark, blocks):
    out = {r.family: r for r in purge_stats(blocks, max_block_size=4).collect()}
    # families here are the literal keys (no '|' separator)
    big = out["big"]
    assert big.n_blocks == 1 and big.max_block_size == 7
    assert big.comparisons_total == 21  # 7*6/2
    assert big.n_blocks_purged == 1 and big.comparisons_kept == 0
    b0 = out["b0"]
    assert b0.comparisons_total == 6 and b0.n_blocks_purged == 0
    assert b0.comparisons_kept == 6


def test_salting_invariance(spark, blocks):
    """Pruning verdicts are a pure function of the pair/weight SET, so the
    hot-path salting must not change them."""
    w_plain = candidate_pairs(blocks, hot_threshold=10**6)
    w_salted = candidate_pairs(blocks, hot_threshold=2)
    for op in (weighted_node_prune, weight_edge_prune):
        a = {(r.id_a, r.id_b, r.n_keys) for r in op(w_plain).collect()}
        b = {(r.id_a, r.id_b, r.n_keys) for r in op(w_salted).collect()}
        assert a == b


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAS_HYPOTHESIS = False

if HAS_HYPOTHESIS:

    @settings(max_examples=12, deadline=None)
    @given(
        assigns=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5),  # block
                st.integers(min_value=0, max_value=14),  # id
            ),
            min_size=2,
            max_size=60,
        ),
        hot=st.integers(min_value=1, max_value=8),
        t_tight=st.integers(min_value=1, max_value=3),
    )
    def test_hypothesis_prune_and_canopy_vs_brute(spark, assigns, hot, t_tight):
        """Random block tables: WNP (both modes), WEP, and canopy must all
        agree with plain-Python recomputation, under arbitrary hot-block
        salting thresholds (salting must be invisible)."""
        from levenshtein_spark.operators.canopy import canopy_assign

        rows = sorted({(f"b{b}", i) for b, i in assigns})
        ids = sorted({i for _, i in rows})
        blocks = spark.createDataFrame(rows, "block_key string, id long")
        weighted = candidate_pairs(blocks, hot_threshold=hot).persist()

        w = brute_pairs(rows)
        sums, degs = {}, {}
        for (a, b), wt in w.items():
            for n in (a, b):
                sums[n] = sums.get(n, 0) + wt
                degs[n] = degs.get(n, 0) + 1

        got = {(r.id_a, r.id_b, r.n_keys) for r in weighted.collect()}
        assert got == {(a, b, wt) for (a, b), wt in w.items()}

        for mode, comb in (("or", any), ("and", all)):
            exp = {
                p
                for p, wt in w.items()
                if comb(wt * degs[e] >= sums[e] for e in p)
            }
            got_m = {
                (r.id_a, r.id_b)
                for r in weighted_node_prune(weighted, mode=mode).collect()
            }
            assert got_m == exp, mode

        total, n = sum(w.values()), len(w)
        exp_wep = {p for p, wt in w.items() if wt * n >= total}
        got_wep = {(r.id_a, r.id_b) for r in weight_edge_prune(weighted).collect()}
        assert got_wep == exp_wep

        # canopy: dominated/centers/loose-assignment/orphan recomputation
        dominated = {b for (a, b), k in w.items() if k >= t_tight}
        centers = {i for i in ids if i not in dominated}
        exp_c = set()
        for (a, b), k in w.items():
            if b in centers:
                exp_c.add((a, b))
            if a in centers:
                exp_c.add((b, a))
        exp_c |= {(c, c) for c in centers}
        covered = {i for i, _ in exp_c}
        exp_c |= {(i, i) for i in ids if i not in covered}
        ids_df = spark.createDataFrame([(i,) for i in ids], "id long")
        got_c = {
            (r.id, r.canopy_id)
            for r in canopy_assign(
                weighted, ids_df, t_tight=t_tight, t_loose=1
            ).collect()
        }
        # unpersist before the next Hypothesis example: the spark fixture is
        # session-scoped, so leaked caches accumulate across examples/shrinks
        weighted.unpersist()
        assert got_c == exp_c
