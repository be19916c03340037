"""Stage 2 — candidate pair generation with explicit skew handling.

A blocked join is a shuffle on ``block_key``; one hot key (a hot repo, a
common length band) turns into a straggler task with O(n²) pair fan-out.
Every candidate-pair operator here is a thin aggregation over one of two
private cores, which hold the salt rules and nothing else. Both take a size
census, broadcast the (tiny) hot-key set with its salt count back onto the
rows, and run ONE salted join: a key missing from the hot set takes
``S = 1``, and the salted join with one salt is the plain equi-join.

**One salting rule** (:func:`_salt_count`). ``hot_threshold`` ``T`` is the
most work one key may put on one task, measured in the census quantity of
the core: a key is hot when its quantity exceeds ``T``, and it is split into
``S = ceil(quantity / T)`` salts so each piece falls back under ``T``
(capped at ``_MAX_SALTS``). ``T`` therefore sets both hotness and the split:
there is no separate salt count to tune, and a giant block gets a wide
split while a merely-warm one gets two or three salts.

* :func:`_self_meetings` — one record set joined with itself; the quantity
  is the block's row count ``n``. A *triangle salted join*: each row gets a
  deterministic salt ``s = hash(id) % S``, the left side is replicated to
  salts ``t ∈ [s, S)`` and joined on ``(block_key, t == salt_right)``.
  Exactly once per (block, unordered pair): for ``s_a < s_b`` only the
  ``a``-as-left replica meets ``b``; equal salts meet in both directions,
  so the tie breaks by ``id_l < id_r``. The work of a hot block spreads
  over S·(S+1)/2 partitions instead of one. A cold block has ``S = 1``:
  every salt is 0, nothing is replicated, and the join is the plain
  self-join with ``id_l < id_r``.
* :func:`_lr_meetings` — two record sets (left × right); the quantity is
  the key's fan-out ``n_l·n_r``. Left rows take the salt ``hash(id_l) % S``
  and right rows are replicated to all S salts: every cross pair meets
  exactly once, spread over S partitions. ``S`` is also capped at ``n_l``,
  past which extra salts only add right-side replicas. A cold key has
  ``S = 1``: both sides carry salt 0 and the join is the plain equi-join.

Both are lossless — unlike sub-block salting there is no recall hit, and
the salt count only moves work between tasks, never changes the pair set —
and are the explicit skew handling the north_rule requires on top of AQE's
skew-join splitting (which cannot help the pair *fan-out*, only scan skew).
A core returns one row per key meeting; extra block columns ride along as
per-(key, id) payload for in-join predicates, suffixed ``_a``/``_b`` (self)
or ``_l``/``_r`` (bipartite), and follow their ids through canonicalisation.

**The pair stream is slim**: only ``(id_a, id_b)`` flows through the join
and dedup shuffles — at web scale the pair count is a multiple of the
row count, so every byte of payload carried per pair multiplies the dominant
shuffle. Scoring re-attaches payload columns from the (much smaller) per-id
record table via ``attach_pair_payload``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

DEFAULT_HOT_THRESHOLD = 2000
_MAX_SALTS = 256


def _id_cols(df: DataFrame) -> list[str]:
    """``id`` followed by the payload columns (everything but ``block_key``)."""
    return ["id"] + [c for c in df.columns if c not in ("block_key", "id")]


def _suffix(df: DataFrame, cols: list[str], suf: str) -> DataFrame:
    for c in cols:
        df = df.withColumnRenamed(c, f"{c}{suf}")
    return df


def _salt_count(load: Column, hot_threshold: int, *caps: Column) -> Column:
    """Salt count of a hot key whose census quantity is ``load``: enough
    salts that each piece carries at most ``hot_threshold`` of it, capped at
    ``_MAX_SALTS`` and at every extra ``caps`` column."""
    if hot_threshold < 1:
        raise ValueError(f"hot_threshold must be >= 1, got {hot_threshold}")
    return F.least(F.ceil(load / F.lit(hot_threshold)), F.lit(_MAX_SALTS), *caps).cast("int")


def _self_meetings(blocks: DataFrame, hot_threshold: int) -> DataFrame:
    """``(block_key, id, extra...)`` → one row per (block key, unordered
    pair) meeting: ``(id_a < id_b, extra_a..., extra_b...)``. A block of
    ``n > hot_threshold`` rows takes ``S = min(ceil(n / T), _MAX_SALTS)``
    triangle salts; every other block takes ``S = 1``, where the triangle
    join is the plain self-join on ``id_l < id_r``."""
    ids_x = _id_cols(blocks)
    extras = ids_x[1:]
    slim = blocks.select("block_key", *ids_x)
    n = F.col("count")
    hot_keys = (
        slim.groupBy("block_key").count()
        .where(n > hot_threshold)
        .select("block_key", _salt_count(n, hot_threshold).alias("n_salts"))
    )
    salted = (
        slim.join(F.broadcast(hot_keys), "block_key", "left")
        .withColumn("n_salts", F.coalesce("n_salts", F.lit(1)))
        .withColumn("salt", F.pmod(F.xxhash64("id"), F.col("n_salts")).cast("int"))
    )
    left = _suffix(
        salted.withColumn("salt_t", F.explode(F.sequence(F.col("salt"), F.col("n_salts") - 1)))
        .withColumnRenamed("salt", "salt_l")
        .drop("n_salts"),
        ids_x,
        "_l",
    )
    right = _suffix(salted.drop("n_salts").withColumnRenamed("salt", "salt_t"), ids_x, "_r")
    # equal salts meet in both directions (and a row meets itself): the
    # tie breaks by id_l < id_r
    met = left.join(right, ["block_key", "salt_t"]).where(
        (F.col("salt_l") != F.col("salt_t")) | (F.col("id_l") < F.col("id_r"))
    )
    swap = F.col("id_l") > F.col("id_r")
    canon = [
        F.least("id_l", "id_r").alias("id_a"),
        F.greatest("id_l", "id_r").alias("id_b"),
    ]
    for c in extras:
        canon.append(F.when(swap, F.col(f"{c}_r")).otherwise(F.col(f"{c}_l")).alias(f"{c}_a"))
        canon.append(F.when(swap, F.col(f"{c}_l")).otherwise(F.col(f"{c}_r")).alias(f"{c}_b"))
    return met.select(*canon)


def _lr_meetings(blocks_l: DataFrame, blocks_r: DataFrame, hot_threshold: int) -> DataFrame:
    """Two ``(block_key, id, extra...)`` tables → one row per (block key,
    cross pair) meeting: ``(id_l, id_r, extra_l..., extra_r...)``. A key of
    fan-out ``n_l·n_r > hot_threshold`` takes
    ``S = min(ceil(n_l·n_r / T), n_l, _MAX_SALTS)`` salts; every other key
    takes ``S = 1``, where the salted join is the plain equi-join."""
    ex_l, ex_r = _id_cols(blocks_l), _id_cols(blocks_r)
    sl = _suffix(blocks_l.select("block_key", *ex_l), ex_l, "_l")
    sr = _suffix(blocks_r.select("block_key", *ex_r), ex_r, "_r")
    sizes = (
        sl.groupBy("block_key").count().withColumnRenamed("count", "n_l")
        .join(sr.groupBy("block_key").count().withColumnRenamed("count", "n_r"), "block_key")
    )
    fan_out = F.col("n_l") * F.col("n_r")
    hot_keys = F.broadcast(sizes.where(fan_out > hot_threshold).select(
        "block_key", _salt_count(fan_out, hot_threshold, F.col("n_l")).alias("n_salts")
    ))
    n_salts = F.coalesce("n_salts", F.lit(1))
    cols_l, cols_r = sl.columns[1:], sr.columns[1:]
    hl = sl.join(hot_keys, "block_key", "left").select(
        "block_key", *cols_l, F.pmod(F.xxhash64("id_l"), n_salts).cast("int").alias("salt")
    )
    hr = sr.join(hot_keys, "block_key", "left").select(
        "block_key", *cols_r, F.explode(F.sequence(F.lit(0), n_salts - 1)).alias("salt")
    )
    return hl.join(hr, ["block_key", "salt"]).select(*cols_l, *cols_r)


def candidate_pairs(
    blocks: DataFrame,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
) -> DataFrame:
    """exploded blocks (block_key, id, …) → distinct slim candidate pairs.

    Output: ``id_a < id_b``, plus ``n_keys`` = number of block keys that
    generated the pair (a useful blocking-quality signal).

    ``hot_threshold`` ``T`` is the one skew setting: a block of ``n > T``
    rows is hot and takes ``S = min(ceil(n / T), 256)`` triangle salts, so
    each salted task sees about ``T`` left rows whatever the block-size
    distribution — a giant block gets a wide split, a merely-warm one two or
    three salts, and no fixed count under-splits the first or
    over-replicates the second. Salting never changes the produced pair SET
    (only its partitioning). ``T`` must be >= 1.
    """
    meetings = _self_meetings(blocks.select("block_key", "id"), hot_threshold)
    return meetings.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_keys"))


def candidate_pairs_annotated(
    blocks: DataFrame,
    predicate,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
) -> DataFrame:
    """:func:`candidate_pairs` with per-(key, id) PAYLOAD and an in-join
    pruning predicate — the hook for PPJoin-style positional filters, which
    need to see both sides' per-key metadata BEFORE the pair is deduplicated
    (the slim operator throws that context away).

    ``blocks`` carries ``(block_key, id, extra...)``; every extra column is
    exposed to ``predicate`` suffixed ``_a``/``_b`` (payloads follow their
    ids through canonicalization, so ``x_a`` always belongs to ``id_a``).
    ``predicate(df) -> Column`` is applied to each key-meeting of a pair;
    the pair survives if ANY meeting passes. Output: ``(id_a < id_b,
    n_passing_keys)`` — deliberately NOT named ``n_keys``: the slim
    operator's ``n_keys`` counts ALL key-meetings, this counts only
    PASSING ones, and under a non-trivial predicate the two carry
    different blocking-quality signals (distinct names prevent a consumer
    accidentally reusing one as the other).
    """
    meetings = _self_meetings(blocks, hot_threshold)
    return (
        meetings.where(predicate(meetings))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_passing_keys"))
    )


def candidate_pairs_lr(
    blocks_l: DataFrame,
    blocks_r: DataFrame,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
) -> DataFrame:
    """Bipartite candidate generation: two exploded block tables
    ``(block_key, id)`` from DIFFERENT record sets → distinct slim
    ``(id_l, id_r)`` pairs sharing >= 1 key.

    The linkage use case "link file A against file B" (one-sided growth:
    a daily batch against a canonical table); hot keys take the bipartite
    salt of :func:`_lr_meetings`.
    """
    return _lr_meetings(
        blocks_l.select("block_key", "id"),
        blocks_r.select("block_key", "id"),
        hot_threshold,
    ).distinct()


def candidate_pairs_lr_annotated(
    blocks_l: DataFrame,
    blocks_r: DataFrame,
    predicate,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
) -> DataFrame:
    """:func:`candidate_pairs_lr` with per-(key, id) payload and an in-join
    predicate (the bipartite sibling of :func:`candidate_pairs_annotated`).
    Left extras are exposed suffixed ``_l``, right extras ``_r``; a pair
    ``(id_l, id_r)`` survives if ANY of its key-meetings passes. Output:
    distinct ``(id_l, id_r)``.
    """
    meetings = _lr_meetings(blocks_l, blocks_r, hot_threshold)
    return meetings.where(predicate(meetings)).select("id_l", "id_r").distinct()


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    text_col: str,
    k: int,
    id_col: str = "id",
    dist_fn=None,
    hot_threshold: int = DEFAULT_HOT_THRESHOLD,
) -> DataFrame:
    """Batch two-table fuzzy linkage (the batch twin of
    ``streaming.stream_fuzzy_link``, at the slim-pair scale discipline):
    block both sides on ``key_col`` equality, generate salted bipartite
    candidates, re-attach ``text_col`` per side, score with ``dist_fn``
    (default: the bounded OSA kernel) and keep ``dist <= k``.
    Output: ``(id_l, id_r, <text>_l, <text>_r, dist)``.
    """
    if dist_fn is None:
        from levenshtein_spark.functions.distance import bounded_edit_dist_t

        dist_fn = bounded_edit_dist_t

    bl = left.select(F.col(key_col).alias("block_key"), F.col(id_col).alias("id"))
    br = right.select(F.col(key_col).alias("block_key"), F.col(id_col).alias("id"))
    pairs = candidate_pairs_lr(bl, br, hot_threshold)
    a = left.select(F.col(id_col).alias("id_l"), F.col(text_col).alias(f"{text_col}_l"))
    b = right.select(F.col(id_col).alias("id_r"), F.col(text_col).alias(f"{text_col}_r"))
    fat = pairs.join(a, "id_l").join(b, "id_r")
    return fat.withColumn(
        "dist", dist_fn(f"{text_col}_l", f"{text_col}_r", k)
    ).where(F.col("dist") <= k)


def attach_pair_payload(pairs: DataFrame, records: DataFrame, cols: list[str]) -> DataFrame:
    """Join per-id payload columns onto slim pairs as ``{col}_a`` / ``{col}_b``.

    ``records`` must have one row per ``id``. Catalyst picks broadcast vs
    sort-merge per side from statistics; at web scale this is two SMJ
    shuffles of the slim pair stream, still far cheaper than dragging the
    payload through the pair-generation shuffles.
    """
    a = records.select(F.col("id").alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols])
    b = records.select(F.col("id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols])
    return pairs.join(a, "id_a").join(b, "id_b")


def one_to_one(
    cand: DataFrame,
    left_col: str = "id_l",
    right_col: str = "id_r",
    score_col: str = "dist",
) -> DataFrame:
    """Mutual-best 1:1 assignment over a scored candidate stream: a pair
    survives iff it is BOTH its left record's best match and its right
    record's best match, best = min (score, other id) so ties resolve
    deterministically. The standard clean-clean linkage rule when each side
    is already deduplicated (one row per entity, so no record may link
    twice); greedy-free and embarrassingly parallel, unlike a global
    assignment solve.

    Scale shape: two map-side-combining ``min(struct)`` aggregations (the
    ``closest.py`` arg-min idiom — no per-key window sort) plus one slim
    equi-join; nothing wider than the candidate stream.
    """
    best_r = cand.groupBy(left_col).agg(
        F.min(F.struct(score_col, right_col)).alias("_b")
    ).select(
        left_col,
        F.col(f"_b.{right_col}").alias(right_col),
        F.col(f"_b.{score_col}").alias(score_col),
    )
    best_l = cand.groupBy(right_col).agg(
        F.min(F.struct(score_col, left_col)).alias("_b")
    ).select(F.col(f"_b.{left_col}").alias(left_col), right_col)
    return best_r.join(best_l, [left_col, right_col])
