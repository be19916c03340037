"""SQL catalog registration: the reference's doc/Usage.md queries run
verbatim (modulo table names) through spark.sql after register_all()."""

from __future__ import annotations

import pytest

from levenshtein_spark.functions.register import register_all
from levenshtein_spark.oracle import ref_edit_distance, ref_similarity


@pytest.fixture(scope="module")
def sql(spark):
    names = register_all(spark)
    assert set(names) >= {"edit_dist", "bounded_edit_dist_t", "damlevlim", "levmin"}
    rows = [
        (1, "Robert"), (2, "Rupert"), (3, "rupert"), (4, "Bob"),
        (5, "Roberto"), (6, "Rob3rt"), (7, "zzz"),
    ]
    spark.createDataFrame(rows, "id long, name string").createOrReplaceTempView("customers")
    return spark.sql


def test_usage_filter_by_distance(sql):
    # doc/Usage.md:101-108 shape: scan + UDF filter
    got = {
        (r.id, r.d)
        for r in sql(
            "SELECT id, bounded_edit_dist_t(name, 'Robert', 2) AS d "
            "FROM customers WHERE bounded_edit_dist_t(name, 'Robert', 2) <= 2"
        ).collect()
    }
    exp = {
        (i, ref_edit_distance(n, "Robert", 2))
        for i, n in [(1, "Robert"), (2, "Rupert"), (5, "Roberto"), (6, "Rob3rt")]
    }
    assert got == exp


def test_usage_closest_match_order_by(sql):
    # doc/Usage.md:178-189 shape: ORDER BY min_edit_dist(...), name LIMIT 1
    row = sql(
        "SELECT name, min_edit_dist_t(name, 'Rupprt', 6) AS d "
        "FROM customers ORDER BY d, name LIMIT 1"
    ).collect()[0]
    assert (row.name, row.d) == ("Rupert", 1)


def test_usage_similarity_threshold(sql):
    # doc/Usage.md:138-144 shape
    got = {r.name for r in sql(
        "SELECT name FROM customers WHERE similarity_t(name, 'Robert', 0.66) >= 0.66"
    ).collect()}
    exp = {n for _, n in [(1, "Robert"), (2, "Rupert"), (5, "Roberto"), (6, "Rob3rt")]
           if ref_similarity(n, "Robert", 0.66) >= 0.66}
    assert got == exp and "Robert" in got


def test_legacy_names_agree_with_new(sql):
    rows = sql(
        "SELECT damlevlim(name, 'Robert', 3) AS old, "
        "bounded_edit_dist_t(name, 'Robert', 3) AS new, "
        "lev(name, 'Robert') AS old_u, edit_dist(name, 'Robert') AS new_u "
        "FROM customers"
    ).collect()
    for r in rows:
        assert r.old == r.new and r.old_u == r.new_u


def test_unbounded_and_osa_pin(sql):
    r = sql("SELECT edit_dist_t('CA', 'ABC') AS t, edit_dist('CA', 'ABC') AS l").collect()[0]
    assert r.t == 3 and r.l == 3  # OSA == Lev here; restricted, not DL (=2)
    r = sql("SELECT edit_dist_t('string', 'strlng') AS a, damlev('string', 'strlng') AS b").collect()[0]
    assert r.a == r.b == 1


def test_untyped_null_literals(sql):
    """An untyped SQL NULL reaches the Arrow UDFs as a ``pa.null()`` array:
    a NULL string is the NULL exit (max(len), cap bypassed), a NULL cap is
    unbounded."""
    r = sql(
        "SELECT bounded_edit_dist_t(NULL, 'abc', 2) AS a, "
        "bounded_edit_dist_t('abcdef', 'uvwxyz', NULL) AS b, "
        "edit_dist('abc', NULL) AS c, similarity_t(NULL, NULL, 0.5) AS d, "
        "levlim(NULL, 'abcdefg', 3) AS e"
    ).collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (3, 6, 3, 1.0, 7)
    assert (r.a, r.b, r.e) == (
        ref_edit_distance(None, "abc", 2),
        ref_edit_distance("abcdef", "uvwxyz"),
        ref_edit_distance(None, "abcdefg", 3, transpositions=False),
    )


def test_jaro_winkler_sql_name(sql):
    """The extras surface: jaro_winkler_similarity named like DuckDB's
    builtin, backed by the bit-pinned kernel (functions/jaro.py)."""
    from levenshtein_spark.functions.jaro import batch_jaro_winkler

    got = {r.name: r.jw for r in sql(
        "SELECT name, jaro_winkler_similarity(name, 'Robert') AS jw FROM customers"
    ).collect()}
    names = sorted(got)
    exp = batch_jaro_winkler(names, ["Robert"] * len(names))
    for i, n in enumerate(names):
        assert got[n] == exp[i], n
