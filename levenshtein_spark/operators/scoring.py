"""Stage 3 — pair scoring: sha256 short-circuit + Arrow-batched OSA kernel.

Exact duplicates (``sha_a == sha_b``) bypass the DP entirely — at web scale
the bulk of matches are byte-identical files and must cost O(1). Scoring is
ONE projection with one ``ArrowEvalPython`` node that evaluates both
distances: ``content_dist`` is ``when(exact, 0)`` over the kernel, whose
inputs are ``when(~exact, content_prefix_*)``, so an exact-dupe row ships
two NULLs (a few bytes) instead of its prefixes and the kernel returns at
once; ``path_dist`` is scored for every row. One pass, not a union of an
exact and a fuzzy plan, because every Python task pays a fixed cost before
its first batch (PySpark's worker calls ``importlib.invalidate_caches()``,
which re-reads ``pyspark.zip`` once per zipimporter: ~0.05 s a call on a
4-vCPU host), and the union's exact branch ran a wave of Python tasks for
a few kB each. Traced ``link_batch`` (seed 7, 4 vCPUs), union → one pass:
``scoring.tasks`` 25 → 13, ``scoring.python_time_s`` 1.07 → 0.72 s,
``scoring.python_sent_bytes`` +2.8 kB (5.251 MB).

Edge rule: ``match = sha_equal OR osa(content_prefix) <= k_content``; the
path distance rides along as a feature column (closest-match queries use it).

``memoize=True`` splits the pairs into an exact and a fuzzy branch again
and adds **value-level memoization** to the fuzzy one: the kernel scores one representative per distinct payload tuple and the result
joins back onto the slim pair stream by a sha256 value key. On clone-heavy
corpora (vendored deps, forks, boilerplate — the normal state of a
source-code crawl) many candidate pairs carry identical
``(content_prefix, path_base)`` payloads, so Arrow transfer and kernel
work shrink by the duplication factor while the cost moves to ONE
payload-wide dedup shuffle plus one slim join-back. Measured on the
26.8×-duplicated sf1 bench corpus (41M pairs → 1.53M distinct; the
retired regime tool and its record are
``08a9d5d:tools/bench_memoize.py`` and
``08a9d5d:BENCH/memoize_regimes.json``): **3.0×** end-to-end at the
default k=8 banded kernel (30.1s → 8.8s build + 1.2s score) and
**10.4×** at k=64 (246s → 23.6s) — the win grows with comparator cost,
because the dedup shuffle is paid once regardless of k. ``bench.py``'s
sf1 ``osa_scoring`` / ``osa_scoring_memoized`` pair re-measures the k=8
comparison.
It is a flag, not the default, because at duplication ~1 the build
shuffle is pure overhead; flip it when the corpus is known clone-heavy or
a census shows distinct/total < ~0.7. Exactness relies only on sha256
injectivity — the SAME trust the sha short-circuit already places in it
(``sha_a == sha_b`` ⇒ byte-equal content) — and the bench twin asserts
Σdist equality against the direct path on every run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from levenshtein_spark.functions.distance import bounded_edit_dist, bounded_edit_dist_t

DEFAULT_K_CONTENT = 8
DEFAULT_K_PATH = 4

def _memo_key() -> F.Column:
    """sha256 value key over the fuzzy branch's score-relevant payload.

    (sha_a, sha_b) determines (content_prefix_a, content_prefix_b) — the
    prefix is a function of content — so the key hashes the shas (fixed
    64-char, never NULL) plus the path bases. Every component is a
    FIXED-WIDTH hex digest before concatenation: a delimiter would be
    ambiguous the moment a path contains it (any byte is legal in a POSIX
    path), and an ambiguous boundary lets two distinct payloads share a
    memo key and one pair silently inherit the other's path_dist.
    NULL and '' path bases deliberately coincide — the kernel treats both
    as empty (pinned in tests/test_scoring_memoize.py)."""
    return F.sha2(
        F.concat(
            F.col("sha_a"),
            F.col("sha_b"),
            F.md5(F.coalesce(F.col("path_base_a"), F.lit(""))),
            F.md5(F.coalesce(F.col("path_base_b"), F.lit(""))),
        ),
        256,
    )


def score_pairs(
    pairs: DataFrame,
    k_content: int = DEFAULT_K_CONTENT,
    k_path: int = DEFAULT_K_PATH,
    transpositions: bool = True,
    memoize: bool = False,
) -> DataFrame:
    """→ id_a, id_b, [n_keys,] exact_dupe, content_dist, path_dist, is_match.

    ``n_keys`` rides along when ``pairs`` carries it (``candidate_pairs``),
    so the scored stream is also the candidate stream.
    ``transpositions=False`` scores with plain bounded Levenshtein instead of
    OSA (reference ``bounded_edit_dist`` vs ``bounded_edit_dist_t``).
    ``memoize=True`` scores one representative per distinct payload tuple
    (see module docstring); the output is row-identical either way.
    """
    dist = bounded_edit_dist_t if transpositions else bounded_edit_dist
    ids = ["id_a", "id_b", *(["n_keys"] if "n_keys" in pairs.columns else [])]
    if not memoize:
        exact = F.col("sha_a") == F.col("sha_b")
        # one projection, so one ArrowEvalPython node: exact rows ship NULL
        # prefixes (their content_dist is 0 without the kernel), every row
        # ships its path bases. A NULL sha is neither exact nor fuzzy.
        scored = pairs.where(exact.isNotNull()).select(
            *ids,
            exact.alias("exact_dupe"),
            F.when(exact, F.lit(0).cast("long"))
            .otherwise(
                dist(
                    F.when(~exact, F.col("content_prefix_a")),
                    F.when(~exact, F.col("content_prefix_b")),
                    k_content,
                )
            )
            .alias("content_dist"),
            dist("path_base_a", "path_base_b", k_path).alias("path_dist"),
        )
    else:
        exact = (
            pairs.where(F.col("sha_a") == F.col("sha_b"))
            .select(
                *ids,
                F.lit(True).alias("exact_dupe"),
                F.lit(0).cast("long").alias("content_dist"),
                dist("path_base_a", "path_base_b", k_path).alias("path_dist"),
            )
        )
        keyed = pairs.where(F.col("sha_a") != F.col("sha_b")).withColumn("memo_vh", _memo_key())
        # one payload row per distinct value tuple (map-side partial
        # aggregation dedups before the shuffle); ids are NOT carried, so
        # the aggregate state is bounded by the distinct-value count
        reps = keyed.groupBy("memo_vh").agg(
            F.first("content_prefix_a").alias("content_prefix_a"),
            F.first("content_prefix_b").alias("content_prefix_b"),
            F.first("path_base_a").alias("path_base_a"),
            F.first("path_base_b").alias("path_base_b"),
        )
        rep_scores = reps.select(
            "memo_vh",
            dist("content_prefix_a", "content_prefix_b", k_content).alias(
                "content_dist"
            ),
            dist("path_base_a", "path_base_b", k_path).alias("path_dist"),
        )
        # join back on the slim (id_a, id_b, memo_vh) stream — the payload
        # never shuffles a second time
        fuzzy = (
            keyed.select(*ids, "memo_vh")
            .join(rep_scores, "memo_vh")
            .select(
                *ids,
                F.lit(False).alias("exact_dupe"),
                "content_dist",
                "path_dist",
            )
        )
        scored = exact.unionByName(fuzzy)
    return scored.withColumn(
        "is_match", F.col("exact_dupe") | (F.col("content_dist") <= k_content)
    )


def edges(scored: DataFrame) -> DataFrame:
    """Stage 4 — matching pairs as an edge list (src < dst)."""
    return scored.where("is_match").select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )


def fellegi_sunter_weight(
    fields: list[tuple[F.Column, float, float]], precision: int = 6
) -> F.Column:
    """Fellegi–Sunter (JASA'69) composite match weight as one codegen column.

    ``fields`` is ``[(agree_condition, m, u), ...]`` where ``m`` is the
    field's agreement probability among true matches and ``u`` among
    non-matches. A field contributes ``log2(m/u)`` on agreement and
    ``log2((1-m)/(1-u))`` on disagreement.

    The log-weights depend only on the (m, u) **constants**, so they are
    evaluated here in Python and injected as double literals: the per-pair
    expression is a sum of CASE WHENs — whole-stage-codegen JVM arithmetic
    with zero transcendental calls per row, and bit-identical to any oracle
    that injects the same literals (no cross-engine log() parity risk).
    Weights are rounded to ``precision`` decimals *per field* so the sum is
    reproducible as plain decimal arithmetic in SQL twins.
    """
    import math

    total: F.Column | None = None
    for agree, m, u in fields:
        if not (0.0 < m < 1.0 and 0.0 < u < 1.0):
            raise ValueError(f"m/u must be in (0,1), got m={m} u={u}")
        w_agree = round(math.log2(m / u), precision)
        w_disagree = round(math.log2((1.0 - m) / (1.0 - u)), precision)
        term = F.when(agree, F.lit(w_agree)).otherwise(F.lit(w_disagree))
        total = term if total is None else total + term
    if total is None:
        raise ValueError("fields must be non-empty")
    return total


def fs_classify(
    weight: F.Column, upper: float, lower: float
) -> F.Column:
    """Fellegi–Sunter three-way decision: ``match`` at/above ``upper``,
    ``non_match`` below ``lower``, ``possible`` (clerical review) between."""
    return (
        F.when(weight >= upper, F.lit("match"))
        .when(weight < lower, F.lit("non_match"))
        .otherwise(F.lit("possible"))
    )


def fs_em_fit(
    counts: list[float],
    n_fields: int,
    iters: int = 15,
    init: tuple[float, float, float] = (0.9, 0.1, 0.01),
) -> tuple[list[float], list[float], float]:
    """Unsupervised Fellegi–Sunter parameter estimation: EM over the
    2^F agreement-pattern counts (Winkler's classic formulation; the same
    sufficient-statistic approach modern ER tooling uses).

    ``counts[g]`` is the number of candidate pairs whose agreement pattern is
    bitmask ``g`` (bit f set = field f agrees). The engine computes the
    pattern counts distributed (one map-side-combining groupBy — O(2^F)
    result rows regardless of corpus size); EM itself is O(2^F · iters)
    driver-side scalar arithmetic, like the clustering convergence checks.

    Every float operation below is written in a FIXED order (explicit
    left-to-right accumulation, per-pattern product loops in field order) so
    a SQL twin that unrolls the same expression tree — see
    driver_queries/er_eval.py `_fs_em_sql` — reproduces the result
    bit-for-bit: +, *, / are all single correctly-rounded IEEE ops, so
    identical operand order ⇒ identical doubles, no tolerance needed.

    Returns ``(m, u, p)``: per-field P(agree | match), P(agree | unmatch),
    and the match-class prevalence. Standard EM caveats apply: the result is
    a local maximum that depends on ``init``, and u estimated from BLOCKED
    candidates is biased vs random pairs (blocking enriches agreement);
    both are documented properties, pinned in tests, not engine artifacts.
    """
    n_pat = 1 << n_fields
    if len(counts) != n_pat:
        raise ValueError(f"need {n_pat} pattern counts, got {len(counts)}")
    m0, u0, p = init
    m = [m0] * n_fields
    u = [u0] * n_fields
    c = [float(x) for x in counts]
    n_total = 0.0
    for g in range(n_pat):
        n_total = n_total + c[g]
    if n_total <= 0.0:
        raise ValueError("no candidate pairs to fit on")
    for _ in range(iters):
        r = []
        for g in range(n_pat):
            a = p
            b = 1.0 - p
            for f in range(n_fields):
                if (g >> f) & 1:
                    a = a * m[f]
                    b = b * u[f]
                else:
                    a = a * (1.0 - m[f])
                    b = b * (1.0 - u[f])
            r.append(a / (a + b))
        m_mass = 0.0
        for g in range(n_pat):
            m_mass = m_mass + c[g] * r[g]
        new_m, new_u = [], []
        for f in range(n_fields):
            sm = 0.0
            su = 0.0
            for g in range(n_pat):
                if (g >> f) & 1:
                    sm = sm + c[g] * r[g]
                    su = su + c[g] * (1.0 - r[g])
            new_m.append(sm / m_mass)
            new_u.append(su / (n_total - m_mass))
        m, u, p = new_m, new_u, m_mass / n_total
    return m, u, p
