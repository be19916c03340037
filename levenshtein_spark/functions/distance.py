"""String-distance column functions — the Spark face of the reference catalog.

Each public function mirrors one reference UDF (ReadMe.md:29-38):

====================  ===============================================  ==========
Spark function        Reference UDF                                    Path
====================  ===============================================  ==========
edit_dist             edit_dist    (src/edit_dist.cpp)                 Arrow UDF
edit_dist_t           edit_dist_t  (src/edit_dist_t.cpp)               Arrow UDF
bounded_edit_dist     bounded_edit_dist   (src/bounded_edit_dist.cpp)   Arrow UDF
bounded_edit_dist_t   bounded_edit_dist_t (src/bounded_edit_dist_t.cpp) Arrow UDF
similarity_t          similarity_t (src/similarity_t.cpp)              Arrow UDF
similarity_t_closest  min_similarity_t (src/min_similarity_t.cpp)      Arrow UDF
noop                  noop (src/noop.cpp)                              Arrow UDF
jaro_winkler          (companion ER comparator, no reference UDF)      pandas UDF
*_builtin             comparative JVM baselines (cf. src/postgres.cpp)  JVM
====================  ===============================================  ==========

"Arrow UDF" is ``F.arrow_udf``: each batch's ``pa.Array`` columns go
straight into ``levenshtein_spark.kernel``, which reads their buffers — no
pandas, no per-value Python objects. The Arrow UDFs score UTF-8 **bytes**
(reference semantics, ReadMe.md:50-51); the ``*_builtin`` variants stay
entirely JVM-side (whole-stage codegen) using Spark's codepoint-counting
``levenshtein`` — identical on ASCII data and the fast path when
transpositions aren't needed.

The ``min_edit_dist*`` / ``min_similarity_t`` reference functions carry
cross-row mutable state that is only sound single-threaded
(src/min_edit_dist_t.cpp:76-83, doc/Usage.md:173-176); their query-level
meaning (closest match) is re-expressed in
``levenshtein_spark.operators.closest``: ``min_edit_dist_t`` as one
``mapInArrow`` task per core that keeps the reference's best-so-far cap,
``min_similarity_t`` as an arg-max over ``similarity_t_closest``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import DoubleType, LongType

from levenshtein_spark.kernel import (
    batch_closest_similarity,
    batch_edit_distance,
    batch_similarity,
)

# k = -1 is the internal "unbounded" sentinel on the wire; the public API
# validates k >= 0 (reference: validate_max.h rejects negative caps).


@arrow_udf(LongType())
def _osa_dist_udf(a: pa.Array, b: pa.Array, k: pa.Array) -> pa.Array:
    return pa.array(batch_edit_distance(a, b, k=k, transpositions=True))


@arrow_udf(LongType())
def _lev_dist_udf(a: pa.Array, b: pa.Array, k: pa.Array) -> pa.Array:
    return pa.array(batch_edit_distance(a, b, k=k, transpositions=False))


@arrow_udf(DoubleType())
def _osa_sim_udf(a: pa.Array, b: pa.Array, p: pa.Array) -> pa.Array:
    return pa.array(batch_similarity(a, b, p))


@arrow_udf(DoubleType())
def _osa_sim_closest_udf(a: pa.Array, b: pa.Array, p: pa.Array) -> pa.Array:
    return pa.array(batch_closest_similarity(a, b, p))


def _as_k_col(k) -> Column:
    if isinstance(k, Column):
        return k.cast("long")
    k = int(k)
    if k < 0:
        raise ValueError("maximum edit distance cannot be negative")
    return F.lit(k).cast("long")


def edit_dist(a, b) -> Column:
    """Unbounded Levenshtein over UTF-8 bytes (reference ``edit_dist``)."""
    return _lev_dist_udf(F.col(a) if isinstance(a, str) else a,
                         F.col(b) if isinstance(b, str) else b,
                         F.lit(-1).cast("long"))


def edit_dist_t(a, b) -> Column:
    """Unbounded OSA / restricted Damerau–Levenshtein (reference ``edit_dist_t``)."""
    return _osa_dist_udf(F.col(a) if isinstance(a, str) else a,
                         F.col(b) if isinstance(b, str) else b,
                         F.lit(-1).cast("long"))


def bounded_edit_dist(a, b, k) -> Column:
    """Banded Levenshtein, returns k_eff+1 when exceeded (``bounded_edit_dist``)."""
    return _lev_dist_udf(F.col(a) if isinstance(a, str) else a,
                         F.col(b) if isinstance(b, str) else b,
                         _as_k_col(k))


def bounded_edit_dist_t(a, b, k) -> Column:
    """Banded OSA with cap — THE pipeline scoring primitive (``bounded_edit_dist_t``)."""
    return _osa_dist_udf(F.col(a) if isinstance(a, str) else a,
                         F.col(b) if isinstance(b, str) else b,
                         _as_k_col(k))


def similarity_t(a, b, p) -> Column:
    """Normalized OSA similarity with early-exit floor (``similarity_t``).

    ``sim = max(max(0, 1 - d/m), max(0, 1 - (k+1)/m))`` with
    ``k = int((1-p)*m)``, ``m = max(len)`` — src/similarity_t.cpp:56-58,284-290.
    """
    if not isinstance(p, Column):
        p = float(p)
        if not (0.0 <= p <= 1.0):
            raise ValueError("similarity must be in the interval [0.0, 1.0]")
        p = F.lit(p)
    return _osa_sim_udf(F.col(a) if isinstance(a, str) else a,
                        F.col(b) if isinstance(b, str) else b,
                        p.cast("double"))


def similarity_t_closest(a, b, p) -> Column:
    """Adaptive-floor OSA similarity for ARG-MAX consumers only — the
    reference ``min_similarity_t``'s mutable ``max_result``
    (src/min_similarity_t.cpp) re-expressed batch-safe (see
    ``kernel.batch_closest_similarity``): per probe, the arg-max winner
    and its ties score exactly as ``similarity_t``; provably-worse rows
    may report tightened floors. Never project as a per-row column."""
    if not isinstance(p, Column):
        p = float(p)
        if not (0.0 <= p <= 1.0):
            raise ValueError("similarity must be in the interval [0.0, 1.0]")
        p = F.lit(p)
    return _osa_sim_closest_udf(F.col(a) if isinstance(a, str) else a,
                                F.col(b) if isinstance(b, str) else b,
                                p.cast("double"))


def edit_dist_t_2d(a, b) -> Column:
    """Reference ``edit_dist_t_2d`` (src/edit_dist_t_2d.cpp): full-matrix OSA,
    shipped "for testing and benchmarking purposes only". Semantically
    identical to ``edit_dist_t``; the full-matrix algorithm itself lives in
    ``levenshtein_spark.oracle`` (tests) and the recursive-CTE SQL oracle."""
    return edit_dist_t(a, b)


@pandas_udf(DoubleType())
def _jw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    from levenshtein_spark.functions.jaro import batch_jaro_winkler

    return pd.Series(batch_jaro_winkler(a.tolist(), b.tolist()))


def jaro_winkler(a, b) -> Column:
    """Jaro–Winkler similarity over UTF-8 bytes — the companion ER comparator
    to the edit-distance catalog (beyond the reference's surface; see
    ``levenshtein_spark.functions.jaro`` for the exact pinned conventions,
    bit-identical to DuckDB's ``jaro_winkler_similarity``)."""
    return _jw_udf(F.col(a) if isinstance(a, str) else a,
                   F.col(b) if isinstance(b, str) else b)


@arrow_udf(LongType())
def _noop_udf(a: pa.Array, b: pa.Array) -> pa.Array:
    return pa.array(np.zeros(len(a), np.int64))


def noop(a, b) -> Column:
    """Reference ``noop`` (src/noop.cpp:1-8): returns immediately — the
    benchmark floor measuring pure Arrow round-trip overhead."""
    return _noop_udf(F.col(a) if isinstance(a, str) else a,
                     F.col(b) if isinstance(b, str) else b)


def edit_dist_builtin(a, b) -> Column:
    """JVM whole-stage-codegen Levenshtein with reference NULL semantics.

    Codepoint-counting (Spark builtin) — equals the byte kernel on ASCII.
    """
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    la = F.octet_length(F.coalesce(a, F.lit("")))
    lb = F.octet_length(F.coalesce(b, F.lit("")))
    return (
        F.when(a.isNull() | b.isNull(), F.greatest(la, lb))
        .otherwise(F.levenshtein(a, b))
        .cast("long")
    )


def bounded_edit_dist_builtin(a, b, k: int) -> Column:
    """JVM-side bounded Levenshtein with the reference's k+1 convention.

    Wraps Spark's thresholded ``levenshtein(a, b, k)`` (returns -1 when the
    distance exceeds k) into the reference contract: k_eff = min(k, max(len)),
    exceeded → k_eff+1, NULL/empty shorter string → max(len) bypassing the cap
    (src/prealgorithm.h:17-86, src/bounded_edit_dist_t.cpp:284).
    """
    k = int(k)
    if k < 0:
        raise ValueError("maximum edit distance cannot be negative")
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    la = F.octet_length(F.coalesce(a, F.lit("")))
    lb = F.octet_length(F.coalesce(b, F.lit("")))
    m = F.greatest(la, lb)
    n = F.least(la, lb)
    keff = F.least(F.lit(k), m)
    raw = F.levenshtein(a, b, k)
    return (
        F.when(a.isNull() | b.isNull() | (n == 0), m)
        .when(raw < 0, keff + 1)
        .otherwise(F.least(raw, keff + 1))
        .cast("long")
    )
