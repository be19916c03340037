"""Registry integrity for the driver contract (no Spark session needed)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_collect_registry():
    from levenshtein_spark.driver_queries import collect

    queries, oracles = collect()
    assert len(queries) >= 25
    # every oracle belongs to a query; every query callable is callable
    assert set(oracles) <= set(queries)
    for fn in queries.values():
        assert callable(fn)
    # catalog coverage: one query per reference UDF family (ReadMe.md:29-38)
    for name in [
        "edit_dist", "edit_dist_t", "bounded_edit_dist", "bounded_edit_dist_t",
        "similarity_t", "min_edit_dist", "min_similarity_t",
    ]:
        assert name in queries and name in oracles, name
    # pipeline stages all present
    for name in [
        "linkage_normalize", "linkage_blocks", "linkage_pairs",
        "linkage_score", "linkage_edges", "linkage_clusters",
    ]:
        assert name in queries and name in oracles, name


def test_front_is_least_recently_driver_checked():
    """The driver verifies the first 50 registry entries; they are the 50
    queries whose last driver-green row in CORRECTNESS_r01..r05.json is the
    oldest, so no query outside the front was checked less recently."""
    import json

    from levenshtein_spark.driver_queries import collect

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last = {}
    for r in range(1, 6):
        with open(os.path.join(root, f"CORRECTNESS_r0{r}.json")) as fh:
            last.update((q, r) for q in json.load(fh))
    order = list(collect()[0])
    assert set(order) == set(last)
    assert max(last[q] for q in order[:50]) <= min(last[q] for q in order[50:])


def test_entry_module_contract():
    import __spark_entry__ as e

    assert callable(e.entry)
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    for sql in o.values():
        assert isinstance(sql, str) and "SELECT" in sql.upper()
