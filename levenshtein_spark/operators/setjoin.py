"""Exact set-similarity self-join via the AllPairs/prefix filter — the
lossless, deterministic sibling of the MinHash-LSH recall stage.

The dedup family's LSH candidates (``dedup_minhash``/``dedup_ngram_jaccard``)
are probabilistic: recall < 1 by construction. This operator is the EXACT
path — every pair with ``Jaccard(tokens_a, tokens_b) >= t`` is returned,
none missed — using the prefix-filter principle of SSJoin/AllPairs/PPJoin
(Chaudhuri, Ganti & Kaushik ICDE'06; Bayardo, Ma & Srikant WWW'07; Xiao et
al. WWW'08), the canonical web-scale algorithm for this problem (Bayardo et
al. ran it on 10⁸-row web corpora).

**Why it is lossless** (the prefix-filter lemma): order the token universe
by a global total order (ascending document frequency, ties by token — so
prefixes hold each set's RAREST tokens, the most selective choice). If
``|x ∩ y| >= a``, the prefixes of x and y of lengths ``|x| - a + 1`` and
``|y| - a + 1`` must both contain a common token: were every common token
outside x's prefix, all ``a`` of them would sit in x's last ``a - 1``
positions — impossible. ``J(x, y) >= t`` forces ``|x ∩ y| >= ceil(t·|x|)``
(overlap >= t·|x ∪ y| >= t·max(|x|,|y|)), so keying each set on its first
``|x| - ceil(t·|x|) + 1`` tokens guarantees every qualifying pair shares a
key. Candidates are verified with the exact intersection; the threshold is
a RATIONAL ``t = num/den`` compared by integer cross-multiplication, so the
join result is bit-deterministic (no float threshold anywhere).

Scale shape: the token census is one map-side-combining aggregate; the
global order attaches by a token-keyed join (never broadcast); per-set
prefix ranks partition by id (short sorted runs). Prefix keys are rare
tokens *by construction* — the frequency-ascending order means a token that
would produce a hot block is exactly the token the prefix filter avoids —
and what heat remains (a corpus-wide near-clone family shares its rare
tokens too) routes through the hot-block-salted ``candidate_pairs``
operator like every blocked family in this engine. Verification joins the
slim pair stream back to the token arrays; cost is |candidates| × avg set
size, never corpus².
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from levenshtein_spark.operators.pairs import (
    attach_pair_payload,
    candidate_pairs_annotated,
    candidate_pairs_lr_annotated,
)


def _ranked_tokens(slim: DataFrame) -> DataFrame:
    """``(id, n, tok, pos)``: each set's tokens ranked 1.. under the global
    (corpus df ASC, token ASC) total order — the single source of truth for
    every prefix-filter key family here. ``slim`` must carry ``(id, toks)``
    with non-empty distinct token arrays."""
    tok = slim.select("id", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
    census = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    return tok.join(census, "tok").select(
        "id", "n", "tok",
        F.row_number().over(Window.partitionBy("id").orderBy("__df", "tok")).alias("pos"),
    )


def _prefix_len(t_num: int, t_den: int) -> Column:
    """Prefix length |x| - ceil(t·|x|) + 1 over column ``n``, in integer
    arithmetic: ceil(t*n) = (t_num*n + t_den - 1) div t_den — the
    prefix-filter lemma's bound (one shared derivation for both joins)."""
    return (
        F.col("n")
        - F.floor((F.lit(t_num) * F.col("n") + F.lit(t_den - 1)) / F.lit(t_den))
        + 1
    )


def ppjoin_predicate(t_num: int, t_den: int):
    """The PPJoin positional + length filters for ``Jaccard >= t_num/t_den``
    as a meeting predicate for :func:`candidate_pairs_annotated` — exported
    so benches census EXACTLY what the operator runs.

    * length filter: J >= t forces n_min/n_max >= t;
    * positional filter (Xiao et al. PPJoin): J >= t forces overlap
      o >= t/(1+t)·(n_a+n_b); at the FIRST common token (order positions
      pos_a/pos_b) the overlap is bounded by 1 + min remaining suffix, so a
      valid pair's first common meeting always passes — pruning every
      failing meeting keeps exactly the pairs with >= 1 passing meeting
      (lossless; integer cross-multiplied rational).
    """

    def pred(m):
        length_ok = F.lit(t_num) * F.greatest("n_a", "n_b") <= F.lit(
            t_den
        ) * F.least("n_a", "n_b")
        pos_ok = (
            1 + F.least(F.col("n_a") - F.col("pos_a"), F.col("n_b") - F.col("pos_b"))
        ) * F.lit(t_num + t_den) >= F.lit(t_num) * (F.col("n_a") + F.col("n_b"))
        return length_ok & pos_ok

    return pred


def allpairs_prefix_keys(slim: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """The ``(block_key, id, pos, n)`` rows behind
    :func:`set_similarity_self_join` — factored out so benches/tests can
    census candidate mass. ``pos`` is the token's 1-based rank in the set's
    global (df ASC, token ASC) order, ``n`` the set size — the metadata the
    PPJoin positional filter consumes."""
    ranked = _ranked_tokens(slim)
    return ranked.where(F.col("pos") <= _prefix_len(t_num, t_den)).select(
        F.concat(F.lit("ap|"), F.col("tok")).alias("block_key"), "id", "pos", "n"
    )


def set_similarity_self_join(
    records: DataFrame,
    tokens: Column,
    t_num: int,
    t_den: int,
    id_col: str = "id",
    hot_threshold: int = 2000,
) -> DataFrame:
    """All pairs with ``Jaccard(set(tokens_a), set(tokens_b)) >= t_num/t_den``
    — exact, via AllPairs prefix-filter blocking. Output:
    ``(id_a, id_b, inter, uni, jaccard)`` with ``jaccard`` rounded to 6.

    Records whose token set is EMPTY are excluded (Jaccard is undefined
    against the empty set; with any non-empty partner it is 0 < t anyway).
    """
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must be a rational in (0, 1]")
    slim = records.select(
        F.col(id_col).alias("id"), F.array_distinct(tokens).alias("toks")
    ).where(F.size("toks") > 0)
    # persisted: the key table holds a census + window lineage and feeds the
    # pair generator's size census AND both join sides (house style — see
    # dedup_minhash); scoped for harness release
    from levenshtein_spark.session import scoped_persist

    keys = allpairs_prefix_keys(slim, t_num, t_den).transform(scoped_persist)
    pairs = candidate_pairs_annotated(
        keys, ppjoin_predicate(t_num, t_den), hot_threshold
    ).drop("n_passing_keys")
    fat = attach_pair_payload(pairs, slim, ["toks"])
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.size("toks_a") + F.size("toks_b") - inter
    return (
        fat.select("id_a", "id_b", inter.alias("inter"), uni.alias("uni"))
        .where(F.col("inter") * F.lit(t_den) >= F.lit(t_num) * F.col("uni"))
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("long").alias("inter"),
            F.col("uni").cast("long").alias("uni"),
            F.round(F.col("inter").cast("double") / F.col("uni").cast("double"), 6).alias(
                "jaccard"
            ),
        )
    )


def set_containment_join(
    records: DataFrame,
    tokens: Column,
    t_num: int,
    t_den: int,
    id_col: str = "id",
    hot_threshold: int = 2000,
) -> DataFrame:
    """Ordered containment pairs: every ``(inner, outer)`` with
    ``|inner ∩ outer| >= (t_num/t_den)·|inner|`` and ``inner != outer`` —
    exact. Output: ``(id_inner, id_outer, inter, n_inner, containment)``.

    Containment is the asymmetric near-dup relation Jaccard cannot see: a
    short document fully quoted inside a much longer one has Jaccard
    ``|A|/|B| ≈ 0`` but containment 1. It is the position-independent
    complement of ``dedup_prefix`` (char-prefix truncation): reordered,
    interleaved, or mid-document inclusion all score the same.

    Blocking is the asymmetric prefix filter: the INNER side needs overlap
    ``>= ceil(t·|A|)``, so its ``|A| - ceil(t·|A|) + 1`` rarest tokens
    (corpus-frequency order) must contain a shared token — pigeonhole, as
    in :func:`set_similarity_self_join`; the OUTER side cannot bound which
    of its tokens is shared, so it keys on ALL of them (the inverted-index
    role — the same total key mass as any inverted index build, linear in
    corpus tokens). Lossless; candidates verify by integer
    cross-multiplication; heat (an inner prefix landing on a common token)
    routes through the bipartite salted join.
    """
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must be a rational in (0, 1]")
    slim = records.select(
        F.col(id_col).alias("id"), F.array_distinct(tokens).alias("toks")
    ).where(F.size("toks") > 0)
    from levenshtein_spark.session import scoped_persist

    # persisted: both key families project from one ranked-token table whose
    # lineage holds the census join + rank window
    ranked = _ranked_tokens(slim).transform(scoped_persist)
    inner_keys = ranked.where(F.col("pos") <= _prefix_len(t_num, t_den)).select(
        F.concat(F.lit("ct|"), F.col("tok")).alias("block_key"), "id", "pos", "n"
    )
    outer_keys = ranked.select(
        F.concat(F.lit("ct|"), F.col("tok")).alias("block_key"), "id", "pos", "n"
    )

    def containment_filters(m):
        # self-pairs, plus the PPJoin-style filters specialized to the
        # asymmetric overlap requirement o >= ceil(t·n_inner):
        # * length: the outer side must hold at least that many tokens;
        # * positional: at the FIRST common token (global order) the
        #   overlap is bounded by 1 + min remaining suffix — a valid
        #   pair's first common meeting always passes (lossless).
        not_self = F.col("id_l") != F.col("id_r")
        length_ok = F.lit(t_den) * F.col("n_r") >= F.lit(t_num) * F.col("n_l")
        pos_ok = (
            1 + F.least(F.col("n_l") - F.col("pos_l"), F.col("n_r") - F.col("pos_r"))
        ) * F.lit(t_den) >= F.lit(t_num) * F.col("n_l")
        return not_self & length_ok & pos_ok

    pairs = candidate_pairs_lr_annotated(
        inner_keys, outer_keys, containment_filters, hot_threshold
    ).select(F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b"))
    fat = attach_pair_payload(pairs, slim, ["toks"])
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        fat.select(
            F.col("id_a").alias("id_inner"),
            F.col("id_b").alias("id_outer"),
            inter.alias("inter"),
            F.size("toks_a").alias("n_inner"),
        )
        .where(F.col("inter") * F.lit(t_den) >= F.lit(t_num) * F.col("n_inner"))
        .select(
            "id_inner",
            "id_outer",
            F.col("inter").cast("long").alias("inter"),
            F.col("n_inner").cast("long").alias("n_inner"),
            F.round(
                F.col("inter").cast("double") / F.col("n_inner").cast("double"), 6
            ).alias("containment"),
        )
    )
