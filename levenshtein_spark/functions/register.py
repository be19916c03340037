"""SQL registration of the reference catalog — API parity for SQL users.

The reference's native interface IS SQL: ``CREATE FUNCTION bounded_edit_dist_t
RETURNS INTEGER SONAME 'libdamlev.so'`` (doc/Building.md:161-168), after which
every user query is plain SQL. ``register_all(spark)`` recreates that surface
on Spark: every catalog function (ReadMe.md:29-38) plus the legacy names
(doc/Notes.md:17-26 rename table: lev/damlev/levlim/damlevlim/levmin/
damlevmin/damlevp/damlevminp) becomes callable from ``spark.sql`` —
Arrow-batched under the hood (``F.arrow_udf``: each batch's ``pa.Array``
columns go straight into the kernel), never row-at-a-time Python.

``min_*`` note: the reference's ``min_*`` UDFs carry cross-row mutable state
(the best-so-far cap, src/min_edit_dist_t.cpp:76-83) and document that only
the row achieving the query-global minimum is guaranteed accurate — other
rows may return "some unspecified larger number" (doc/Usage.md:173-176).
Returning the exact bounded distance for every row *satisfies* that contract
(it is accurate on the arg-min row and never smaller elsewhere), so the SQL
registrations of ``min_edit_dist``/``min_edit_dist_t`` are the bounded
kernels and ``min_similarity_t`` is ``similarity_t``: reference queries like
``... ORDER BY min_edit_dist_t(Name, 'probe', 6) LIMIT 1`` run verbatim with
identical results. The adaptive-cap *speedup* they implemented is recovered
in the closest-match operator (``operators/closest.py``), not in the scalar.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import DoubleType, LongType

from levenshtein_spark.kernel import batch_edit_distance, batch_similarity


@arrow_udf(LongType())
def _sql_edit_dist(a: pa.Array, b: pa.Array) -> pa.Array:
    return pa.array(batch_edit_distance(a, b, k=None, transpositions=False))


@arrow_udf(LongType())
def _sql_edit_dist_t(a: pa.Array, b: pa.Array) -> pa.Array:
    return pa.array(batch_edit_distance(a, b, k=None, transpositions=True))


@arrow_udf(LongType())
def _sql_bounded_edit_dist(a: pa.Array, b: pa.Array, k: pa.Array) -> pa.Array:
    return pa.array(batch_edit_distance(a, b, k=k, transpositions=False))


@arrow_udf(LongType())
def _sql_bounded_edit_dist_t(a: pa.Array, b: pa.Array, k: pa.Array) -> pa.Array:
    return pa.array(batch_edit_distance(a, b, k=k, transpositions=True))


@arrow_udf(DoubleType())
def _sql_similarity_t(a: pa.Array, b: pa.Array, p: pa.Array) -> pa.Array:
    return pa.array(batch_similarity(a, b, p))


@arrow_udf(LongType())
def _sql_noop(a: pa.Array, b: pa.Array, k: pa.Array) -> pa.Array:
    return pa.array(np.zeros(len(a), np.int64))


# SQL name -> (udf, reference ancestry). `postgres` plays the reference's
# comparative-baseline role (src/postgres.cpp: banded Levenshtein, no
# transpositions) and `edit_dist_simd` is semantically edit_dist (the SIMD
# trim trick lives inside the kernel for every call).
_CATALOG = {
    "edit_dist": _sql_edit_dist,
    "edit_dist_t": _sql_edit_dist_t,
    "edit_dist_t_2d": _sql_edit_dist_t,
    "edit_dist_simd": _sql_edit_dist,
    "bounded_edit_dist": _sql_bounded_edit_dist,
    "bounded_edit_dist_t": _sql_bounded_edit_dist_t,
    "min_edit_dist": _sql_bounded_edit_dist,
    "min_edit_dist_t": _sql_bounded_edit_dist_t,
    "similarity_t": _sql_similarity_t,
    "min_similarity_t": _sql_similarity_t,
    "postgres": _sql_bounded_edit_dist,
    "noop": _sql_noop,
}


@pandas_udf(DoubleType())
def _sql_jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    from levenshtein_spark.functions.jaro import batch_jaro_winkler

    return pd.Series(batch_jaro_winkler(a.tolist(), b.tolist()))


@pandas_udf(LongType())
def _sql_smith_waterman(a: pd.Series, b: pd.Series) -> pd.Series:
    from levenshtein_spark.functions.align import batch_smith_waterman

    return pd.Series(batch_smith_waterman(a.tolist(), b.tolist()))


# Beyond the reference catalog: the companion ER comparators (functions/
# jaro.py, functions/align.py). jaro_winkler_similarity is named like
# DuckDB's builtin so SQL written against either engine ports verbatim.
_EXTRAS = {
    "jaro_winkler_similarity": _sql_jaro_winkler,
    "smith_waterman": _sql_smith_waterman,
}

_LEGACY = {
    "lev": "edit_dist",
    "damlev": "edit_dist_t",
    "levlim": "bounded_edit_dist",
    "damlevlim": "bounded_edit_dist_t",
    "levmin": "min_edit_dist",
    "damlevmin": "min_edit_dist_t",
    "damlevp": "similarity_t",
    "damlevminp": "min_similarity_t",
}


def register_all(spark: SparkSession, legacy: bool = True) -> list[str]:
    """Register the full reference catalog (and, by default, the legacy
    names) as Spark SQL functions; returns the registered names."""
    names = []
    for name, udf in _CATALOG.items():
        spark.udf.register(name, udf)
        names.append(name)
    for name, udf in _EXTRAS.items():
        spark.udf.register(name, udf)
        names.append(name)
    if legacy:
        for old, new in _LEGACY.items():
            spark.udf.register(old, _CATALOG[new])
            names.append(old)
    return names
