"""fs_threshold_curve: differential test vs an independent recomputation.

The driver/strict gate already hash-checks the query against its DuckDB
oracle twin; this test is the third, independent derivation — collect the
FS-scored pairs from the Spark side, compute the gold edge set with a
DuckDB brute force straight off the parquet (no shared candidate
machinery), sweep the curve in pure Python, and require exact equality on
every cell. Plus the curve's structural invariants, which hold for ANY
corpus and would catch a cumulative-window regression even if both engine
twins drifted together.
"""

from __future__ import annotations

import math

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def curve_rows(spark):
    from levenshtein_spark.driver_queries.er_curve import q_fs_threshold_curve

    rows = q_fs_threshold_curve(spark, SF).collect()
    assert rows, "empty curve"
    return sorted(rows, key=lambda r: -r["threshold"])


@pytest.fixture(scope="module")
def fs_pairs(spark):
    from levenshtein_spark.driver_queries.er_eval import q_fs_match_weights

    return [
        (r["id_a"], r["id_b"], r["weight"])
        for r in q_fs_match_weights(spark, SF).collect()
    ]


def _gold_bruteforce():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{SF}/customer.parquet')"
    )
    return {
        (a, b)
        for a, b in con.execute(
            """
            SELECT a.c_custkey, b.c_custkey
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
            WHERE a.c_name = b.c_name OR levenshtein(a.c_name, b.c_name) <= 1
            """
        ).fetchall()
    }


def test_matches_independent_recompute(curve_rows, fs_pairs):
    gold = _gold_bruteforce()
    n_gold = len(gold)
    by_w: dict[float, list[int]] = {}
    for ia, ib, w in fs_pairs:
        cell = by_w.setdefault(w, [0, 0])
        cell[0] += 1
        cell[1] += (ia, ib) in gold
    n_pred = tp = 0
    expect = []
    for w in sorted(by_w, reverse=True):
        n_pred += by_w[w][0]
        tp += by_w[w][1]
        expect.append(
            dict(
                threshold=w,
                n_pred=n_pred,
                tp=tp,
                fp=n_pred - tp,
                fn=n_gold - tp,
                n_gold=n_gold,
                precision=round(tp / n_pred, 6),
                recall=round(tp / n_gold, 6),
                f1=round(2.0 * tp / (n_pred + n_gold), 6),
            )
        )
    got = [r.asDict() for r in curve_rows]
    assert len(got) == len(expect)
    for g, e in zip(got, expect):
        for k, v in e.items():
            gv = g[k]
            if isinstance(v, float):
                assert gv == pytest.approx(v, abs=0, rel=0), (k, gv, v)
            else:
                assert gv == v, (k, gv, v)


def test_structural_invariants(curve_rows):
    n_gold = curve_rows[0]["n_gold"]
    prev_pred, prev_tp = 0, 0
    prev_thr = math.inf
    for r in curve_rows:
        assert r["threshold"] < prev_thr  # distinct, strictly descending
        assert r["n_pred"] > prev_pred  # every threshold admits new pairs
        assert r["tp"] >= prev_tp  # cumulative TP never drops
        assert r["fp"] == r["n_pred"] - r["tp"]
        assert r["fn"] == n_gold - r["tp"]
        assert 0.0 <= r["precision"] <= 1.0
        assert 0.0 <= r["recall"] <= 1.0
        prev_thr, prev_pred, prev_tp = r["threshold"], r["n_pred"], r["tp"]
    # bottom row = the whole candidate universe: its recall is the blocking
    # ceiling (pairs completeness); on this corpus the segment blocking is
    # lossless for the gold rule, so the ceiling is exactly 1.0 and the
    # strictest threshold already separates perfectly (precision 1.0).
    assert curve_rows[-1]["recall"] == pytest.approx(1.0)
    assert curve_rows[0]["precision"] == pytest.approx(1.0)


def test_registered():
    from levenshtein_spark.driver_queries import collect

    q, o = collect()
    assert "fs_threshold_curve" in q and "fs_threshold_curve" in o
