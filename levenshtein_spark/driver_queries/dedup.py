"""Training-data deduplication suite over the documents table.

Four dedup families, each a distinct scale strategy:

* **exact**       — content-hash grouping (the sha256 short-circuit family);
* **MinHash LSH** — word-bigram shingles → portable MinHash signature → band
  keys → candidate pairs, verified with true bigram-set Jaccard;
* **SimHash**     — 60-bit portable SimHash + Hamming-ball pairing;
* **n-gram Jaccard** — character-3-gram sets within length-band blocks.

All hashing is the md5-derived portable family, so every query has an exact
DuckDB oracle (bit-for-bit signatures, band keys, and fingerprints).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from levenshtein_spark.session import scoped_persist
from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.functions.hashing import (
    hamming64,
    minhash_band_table,
    simhash_segment_keys,
)
from levenshtein_spark.functions.text import char_shingles, word_bigrams
from levenshtein_spark.operators.pairs import (
    attach_pair_payload,
    candidate_pairs,
    candidate_pairs_lr,
)

_NUM_HASHES = 8
_BANDS = 4
_HAM_MAX = 8
# char-3-gram MinHash-LSH banding for dedup_ngram_jaccard: r=2 rows/band so
# P(candidate | Jaccard s) = 1-(1-s^2)^6 — ~0.83 at the 0.5 verify threshold,
# >0.996 at s>=0.8; more bands than the word-bigram family because this
# query's threshold is lower.
_NGRAM_HASHES = 12
_NGRAM_BANDS = 6


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: canonical (minimum) doc_id per identical-content group."""
    d = tbl(spark, sf, "documents")
    w = Window.partitionBy(F.md5("text"))
    return d.select(
        "doc_id",
        F.min("doc_id").over(w).alias("canonical_id"),
        (F.count(F.lit(1)).over(w) > 1).alias("has_dupes"),
    )


def _doc_band_keys(d: DataFrame) -> DataFrame:
    """(doc_id, band_key) rows via the flat-codegen band builder
    (functions.hashing.minhash_band_table — see its docstring for why the
    flat form beats the array-expression form ~50x)."""
    return minhash_band_table(
        d, "doc_id", word_bigrams(F.col("text")), _NUM_HASHES, _BANDS
    ).select(F.col("id").alias("doc_id"), "band_key")


def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-dup candidates + true word-bigram Jaccard.

    Pairs sharing >= 1 of the {bands} band keys; Jaccard from distinct
    bigram sets (array_intersect / array_union). The band self-join runs
    through the hot-block-salted ``candidate_pairs`` operator — a
    mass-duplicated document puts its whole clone set into one band key, and
    without the triangle-salted split that key is a single-task O(n²)
    straggler at corpus scale.
    """
    d = tbl(spark, sf, "documents")
    # persisted: consumed by the census + both join sides; the MinHash
    # signature expression is expensive to recompute
    blocks = (
        _doc_band_keys(d)
        .select(F.col("band_key").alias("block_key"), F.col("doc_id").alias("id"))
        .transform(scoped_persist)
    )
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    grams = d.select(
        F.col("doc_id").alias("id"), F.array_distinct(word_bigrams(F.col("text"))).alias("g")
    )
    fat = attach_pair_payload(pairs, grams, ["g"])
    return fat.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round(
            F.size(F.array_intersect("g_a", "g_b")).cast("double")
            / F.size(F.array_union("g_a", "g_b")),
            6,
        ).alias("jaccard"),
    )


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document 60-bit SimHash fingerprint (portable md5 hash family;
    flat codegen formulation — see functions.hashing.simhash_table)."""
    d = tbl(spark, sf, "documents")
    from levenshtein_spark.functions.hashing import simhash_table
    from levenshtein_spark.functions.text import word_tokens

    return simhash_table(d, "doc_id", word_tokens(F.col("text"))).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_dedup_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """All pairs with SimHash Hamming distance <= {ham}, found via lossless
    Hamming-segment pigeonhole blocking.

    The 60-bit fingerprint splits into 9 segments: a pair within Hamming 8
    cannot touch all 9, so it agrees exactly on >= 1 segment — blocking on
    (segment_idx, segment_value) keys is lossless for the Hamming ball (no
    all-pairs step anywhere; see functions.hashing.simhash_segment_keys for
    the (segments, choose) scale ladder). Candidates flow through the same
    slim, hot-block-salted ``candidate_pairs`` operator as the linkage
    pipeline; fingerprints are re-attached per id afterwards.
    """
    d = tbl(spark, sf, "documents")
    from levenshtein_spark.functions.hashing import simhash_table
    from levenshtein_spark.functions.text import word_tokens

    # persisted: consumed by the blocks self-join (census + both sides) and
    # again as the per-id fingerprint payload; simhash is costly to recompute
    sh = simhash_table(d, "doc_id", word_tokens(F.col("text"))).transform(scoped_persist)
    blocks = sh.select(
        F.explode(simhash_segment_keys("simhash", 60, _HAM_MAX + 1, 1)).alias("block_key"),
        "id",
    )
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    fat = attach_pair_payload(pairs, sh, ["simhash"])
    return fat.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        hamming64(F.col("simhash_a"), F.col("simhash_b")).cast("long").alias("hamming"),
    ).where(F.col("hamming") <= _HAM_MAX)


def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Character-3-gram Jaccard >= 0.5: MinHash-LSH recall + exact verify.

    Round-3 rebuild (VERDICT r02 #1): the old candidate stage blocked on
    (lang, floor(n_chars/64)) — a key that ignores content entirely, so a
    same-language similar-length corpus slice (i.e. most of a web crawl)
    degenerated into one O(B²) blocked self-join that salting could spread
    but never shrink. Candidates now come from MinHash-LSH band keys over
    the SAME distinct char-3-gram sets the verify stage uses (the
    dedup_tfidf template: LSH recall stage, exact verify stage), so the
    candidate mass tracks content similarity instead of corpus shape — the
    set-level analogue of the reference's cheap-necessary-condition
    pre-exits (src/prealgorithm.h:77-86). Banding is (b=6, r=2); the DuckDB
    twin regenerates the identical band keys, so the oracle certifies the
    candidate universe AND the verify math.

    Slim-pair discipline (operators/pairs.py): the band self-join shuffles
    only (block_key, id) — never the gram arrays — and hot band keys (a
    mass-duplicated doc) route through the lossless triangle-salted join.
    The 3-gram sets are attached per id *after* pair dedup, so each id's
    array crosses the wire once per pair side instead of riding every
    block-join shuffle.
    """
    d = tbl(spark, sf, "documents")
    blocks = minhash_band_table(
        d, "doc_id", char_shingles(F.col("text"), 3), _NGRAM_HASHES, _NGRAM_BANDS
    ).select(F.col("band_key").alias("block_key"), "id")
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    grams = d.select(F.col("doc_id").alias("id"), char_shingles(F.col("text"), 3).alias("g"))
    fat = attach_pair_payload(pairs, grams, ["g"])
    return (
        fat.select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("g_a", "g_b")).cast("double")
                / F.size(F.array_union("g_a", "g_b")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )


_TFIDF_Q = 1000  # idf quantization scale (integer weights => exact dot products)
_TFIDF_P = 0.6  # cosine threshold


def q_dedup_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF weighted cosine near-dup (the CCNet/C4-style fuzzy-dedup
    family: token overlap weighted by corpus rarity, so boilerplate tokens
    stop gluing unrelated documents together the way raw Jaccard lets them).

    Candidates come from the same MinHash-LSH band keys as ``dedup_minhash``
    (salted slim pairs — this is exactly how production near-dup runs: LSH
    recall stage, weighted-cosine verify stage). Exactness discipline for
    the verify stage: idf is the rational ``(N - df + 0.5)/(df + 0.5)``
    (no transcendentals — the same documented deviation as ``bm25_search``,
    monotone in ln-idf), quantized to an integer weight via one
    correctly-rounded IEEE multiply+divide+round; per-token weights are
    therefore exact integers, the dot product and squared norms are
    order-free integer sums (bit-identical across engines no matter the
    aggregation order), and the only floats per pair are one sqrt and one
    divide — both correctly rounded under IEEE-754, unlike ln.

    Scale shape: tf and df are map-side-combining aggregations; idf joins
    back by token (never broadcast); the dot product joins the slim pair
    stream to the token-weight table on (id, tok) — cost bounded by
    |candidates| x avg tokens, not by the corpus square.
    """
    from levenshtein_spark.functions.text import word_tokens

    d = tbl(spark, sf, "documents")
    toks = d.select(
        F.col("doc_id").alias("id"), F.explode(word_tokens(F.col("text"))).alias("tok")
    )
    tf = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = d.count()
    dfs = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf_q = F.round(
        ((F.lit(n_docs) - F.col("df")).cast("double") + F.lit(0.5))
        * F.lit(float(_TFIDF_Q))
        / (F.col("df").cast("double") + F.lit(0.5))
    ).cast("long")
    # persisted: feeds the norm aggregation AND both sides of the dot join
    w = tf.join(dfs, "tok").select("id", "tok", (F.col("tf") * idf_q).alias("w")).transform(scoped_persist)
    norms = w.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    blocks = _doc_band_keys(d).select(
        F.col("band_key").alias("block_key"), F.col("doc_id").alias("id")
    )
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    dots = (
        pairs.join(
            w.select(F.col("id").alias("id_a"), "tok", F.col("w").alias("wa")), "id_a"
        )
        .join(
            w.select(F.col("id").alias("id_b"), "tok", F.col("w").alias("wb")),
            ["id_b", "tok"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    cos = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("n2_a").cast("double")) * F.sqrt(F.col("n2_b").cast("double"))),
        6,
    )
    return (
        attach_pair_payload(dots, norms, ["n2"])
        .select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), cos.alias("cosine")
        )
        .where(F.col("cosine") >= _TFIDF_P)
    )


_PFX_KEY = 32


def q_dedup_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """Containment dedup: document A whose full text is a PROPER prefix of
    document B (the truncation-duplicate family: crawler cutoffs, partial
    re-uploads — invisible to exact dedup, expensive for MinHash when the
    container is much longer).

    Lossless fixed-width blocking: the prefix side keys on its first
    ``min(32, len)`` chars; the container side emits its prefixes at every
    length L ∈ [0, min(32, len)] (≤ 33 keys/doc, constant fan-out — the
    L=0 empty key exists because an EMPTY document is a proper prefix of
    everything, and its own block key is ''; the ''-block's prefix side
    holds only empty docs, so its fan-out is bounded by their count). If A
    is a proper prefix of B then key(A) = substr(B, 1, min(32, len_A)),
    which B emits — so every true containment survives blocking; the
    equi-join candidates are then verified exactly with startswith. Hot
    keys (a mass-truncated page) route through the bipartite salted join.

    Round-3 second content key (VERDICT r02 #6): a corpus-wide shared
    32-char boilerplate header (license banner, HTML preamble) used to
    concentrate every long doc into one L=32 block with REAL bipartite
    fan-out (salting spreads it, cannot shrink it). Prefix-side docs with
    len >= 2·32 now key on ("p2", first 32 chars, md5(chars 33..64))
    instead — lossless, because a true containment pair with len_A >= 64
    forces len_B > 64 and byte equality on chars 33..64, so B's single
    extra p2 key matches. The plain-prefix ("p1") family now carries only
    prefix-side docs SHORTER than 64 chars, so the boilerplate block's
    prefix side is bounded by the short-doc count, not the corpus.
    """
    return prefix_containment_pairs(tbl(spark, sf, "documents"))


def prefix_containment_blocks(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(a_blocks, b_blocks) of the containment join — factored out so tests
    can census planted-boilerplate corpora (semantics in
    :func:`q_dedup_prefix`). ``d`` must carry (doc_id, text)."""
    base = d.select(
        F.col("doc_id").alias("id"), "text", F.length("text").cast("long").alias("len")
    )
    second_key = F.md5(F.substring("text", _PFX_KEY + 1, _PFX_KEY))
    a_blocks = base.select(
        F.when(
            F.col("len") >= 2 * _PFX_KEY,
            F.concat_ws(
                "|", F.lit("p2"), F.substring("text", 1, _PFX_KEY), second_key
            ),
        )
        .otherwise(F.concat(F.lit("p1|"), F.substring("text", 1, _PFX_KEY)))
        .alias("block_key"),
        "id",
    )
    b_p1 = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.least(F.col("len"), F.lit(_PFX_KEY))),
                lambda length: F.concat(
                    F.lit("p1|"), F.substr(F.col("text"), F.lit(1), length)
                ),
            )
        ).alias("block_key"),
        "id",
    )
    b_p2 = base.where(F.col("len") >= 2 * _PFX_KEY).select(
        F.concat_ws(
            "|", F.lit("p2"), F.substring("text", 1, _PFX_KEY), second_key
        ).alias("block_key"),
        "id",
    )
    return a_blocks, b_p1.unionByName(b_p2)


def prefix_containment_pairs(d: DataFrame) -> DataFrame:
    """Verified containment pairs over :func:`prefix_containment_blocks`
    (semantics in :func:`q_dedup_prefix`)."""
    base = d.select(
        F.col("doc_id").alias("id"), "text", F.length("text").cast("long").alias("len")
    )
    a_blocks, b_blocks = prefix_containment_blocks(d)
    pairs = candidate_pairs_lr(a_blocks, b_blocks, hot_threshold=500).where(
        F.col("id_l") != F.col("id_r")
    )
    fat = (
        pairs.join(
            base.select(
                F.col("id").alias("id_l"), F.col("text").alias("text_a"),
                F.col("len").alias("len_a"),
            ),
            "id_l",
        )
        .join(
            base.select(
                F.col("id").alias("id_r"), F.col("text").alias("text_b"),
                F.col("len").alias("len_b"),
            ),
            "id_r",
        )
    )
    return fat.where(
        (F.col("len_a") < F.col("len_b")) & F.col("text_b").startswith(F.col("text_a"))
    ).select(
        F.col("id_l").alias("doc_a"), F.col("id_r").alias("doc_b"), "len_a", "len_b"
    )


_SUB_W = 8  # duplicated-window width (word tokens)


def q_dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicated-substring spans (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" family, windowed form):
    every width-{_SUB_W} word-token window that occurs verbatim in ≥ 2
    distinct documents, reported at each position it occupies — the
    span-level complement to document-level dedup (boilerplate headers,
    license blocks, quoted passages survive doc-level MinHash because the
    *documents* differ; this finds the repeated *regions*).

    The reference corpus-scale method is a suffix array; at Spark scale the
    equivalent-fidelity windowed formulation is a linear scan: tokens →
    sliding windows (explode + slice, pure codegen) → md5 per window.
    Cross-doc support is computed on the DISTINCT (gram, doc) projection —
    two stacked map-side-combining aggregations, so a window repeated
    10^6 times inside one spam page contributes ONE row of count state,
    and the wide window rows themselves never shuffle: only the md5 keys
    do, then dup keys semi-join back. O(total_tokens) rows end-to-end,
    no quadratic step anywhere.
    """
    return substring_spans(tbl(spark, sf, "documents"))


def substring_spans(d: DataFrame, width: int = _SUB_W) -> DataFrame:
    """``(doc_id, text, ...)`` → ``(doc_id, pos, gram_md5, n_docs)`` rows for
    every width-``width`` token window shared by ≥ 2 distinct documents
    (semantics in :func:`q_dedup_substring`; factored out so tests can
    drive planted corpora through it)."""
    from levenshtein_spark.functions.text import word_tokens

    toks = word_tokens(F.col("text"))
    wins = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= width)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - (width - 1))).alias("pos"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("pos"), width))).alias("gram_md5"),
        )
    )
    support = (
        wins.select("gram_md5", "doc_id")
        .distinct()
        .groupBy("gram_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    return wins.join(support, "gram_md5").select(
        "doc_id", "pos", "gram_md5", F.col("n_docs").cast("long").alias("n_docs")
    )


def q_dedup_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal duplicated REGIONS: adjacent duplicated window positions
    merged into islands (the span a curation pass would actually cut —
    Lee et al. remove the duplicated span, not one window per position).
    Island detection is the classic gaps-and-islands rewrite: group key =
    pos − row_number() within the doc; span covers tokens
    [min(pos), max(pos) + W − 1].

    Scale shape: the window runs PER DOCUMENT (partitionBy doc_id over the
    already-slim (doc_id, pos) stream — state is one doc's dup positions,
    never the corpus), then one map-side-combining groupBy per island.
    """
    spans = substring_spans(tbl(spark, sf, "documents")).select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = spans.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + (_SUB_W - 1)).alias("span_end"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")


_SUB_WIDTHS = (4, 8)  # multi-width pass: 4 lowers the detection floor


def q_dedup_substring_multi(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicated REGIONS at widths {4, 8} (round 3, VERDICT r02 #5): the
    fixed width-8 window makes sub-8-token verbatim repeats — short
    license lines, sign-offs, boilerplate sentences — invisible, because a
    window can only match if all 8 tokens match. A second width-4 pass
    lowers the detection floor to 4 tokens while keeping the
    distinct-projection support-count shape (each width is the same
    O(total_tokens) linear scan; no quadratic step). Output is one row per
    (width, doc, island): the width-8 rows are exactly
    ``dedup_substring_spans``; the width-4 rows add the shorter repeats
    plus wider islands around the long ones (a 10-token repeat is 3
    width-8 windows but 7 width-4 windows).

    **Exact-boundary property** (why this closes the variable-length-repeat
    fidelity gap, not just the floor): for ANY maximal cross-doc repeat of
    token length L >= w at positions [s, s+L-1], every width-w window
    starting in [s, s+L-w] lies inside the repeat and therefore has a
    duplicate (its aligned counterpart in the repeat's twin), so those
    windows form one consecutive run and the gaps-and-islands merge emits
    span_start = s, span_end = (s+L-w) + (w-1) = s+L-1 — the EXACT
    boundaries, at token granularity, for every repeat at least w tokens
    long (suffix-array methods a la Lee et al. give the same regions; the
    only information lost at width w is repeats shorter than w). Adjacent
    or overlapping repeats merge into one island — the union is what a
    span-cutting curation pass wants. Pinned in
    ``tests/test_substring_temperature.py::test_substring_multi_exact_boundaries``.
    """
    return substring_spans_multi(tbl(spark, sf, "documents"), _SUB_WIDTHS)


def substring_spans_multi(d: DataFrame, widths=_SUB_WIDTHS) -> DataFrame:
    """Multi-width islands core (semantics in :func:`q_dedup_substring_multi`;
    factored out so tests can plant short repeats)."""
    outs = []
    for width in widths:
        spans = substring_spans(d, width=width).select("doc_id", "pos")
        w = Window.partitionBy("doc_id").orderBy("pos")
        isl = spans.withColumn("grp", F.col("pos") - F.row_number().over(w))
        outs.append(
            isl.groupBy("doc_id", "grp")
            .agg(
                F.min("pos").alias("span_start"),
                (F.max("pos") + (width - 1)).alias("span_end"),
                F.count(F.lit(1)).cast("long").alias("n_windows"),
            )
            .select(
                F.lit(width).cast("long").alias("width"),
                "doc_id",
                "span_start",
                "span_end",
                "n_windows",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


_LCP_CAP = 64  # suffix truncation: longest reportable shared substring
_LCP_PFX = 4  # shuffle key width = detection floor (chars)


def q_dedup_suffix_lcp(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document longest CROSS-document shared substring, at CHARACTER
    granularity, via generalized-suffix ordering — the genuine Lee et al.
    suffix-array shape (the window families ``dedup_substring*`` quantize
    to token windows; this one reports the exact character length).

    Method: explode every suffix (truncated to {cap} chars), hash-partition
    by its first {pfx} chars (suffixes sharing a {pfx}-prefix are
    lexicographically CONTIGUOUS, so each group can be sorted locally —
    Lee et al.'s suffix sort re-expressed as one shuffle + per-group sort),
    then inside each sorted group: adjacent-suffix LCP via lag, same-doc
    runs, and the range-min property ``lcp(i,j) = min(adjacent lcps
    between)`` give each suffix its LCP to the nearest preceding/following
    different-doc suffix — which is exactly its maximum LCP to ANY other
    document (LCP is non-increasing with suffix-order distance). Per-doc
    max, clamped below the {pfx}-char floor, is the answer.

    Scale: O(total_chars) suffix rows, one hash shuffle whose key width is
    the tuning knob (longer prefix = more, smaller groups at bigger
    corpora), per-group windows, zero Python. Result is exact for shared
    substrings of length in [{pfx}, {cap}]; shorter ones report 0, longer
    ones report {cap}. Assumes a collation where both engines sort
    prefix-consistently (ASCII corpus; documented in tests).
    """
    return suffix_lcp(tbl(spark, sf, "documents"))


def suffix_lcp(d: DataFrame, cap: int = _LCP_CAP, pfx: int = _LCP_PFX) -> DataFrame:
    """Suffix-ordering core (semantics in :func:`q_dedup_suffix_lcp`;
    factored out so tests can plant known shared substrings)."""
    per = _suffix_shared(d, cap, pfx).groupBy("doc_id").agg(F.max("shared").alias("mx"))
    return per.select(
        "doc_id",
        F.when(F.col("mx") >= pfx, F.col("mx")).otherwise(F.lit(0)).cast("long").alias("shared_len"),
    )


_SFX_SPAN_MIN = 16  # minimum shared-region length worth cutting (chars)


def q_dedup_suffix_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Character-exact duplicated REGIONS — the cut-list a curation pass
    consumes: maximal char intervals of each document that verbatim-match
    some other document for >= {minlen} chars.

    Every suffix position p with cross-doc shared length s(p) >= {minlen}
    contributes the interval [p, p+s(p)-1]; the per-doc union of those
    intervals (interval-union via running-max-end islands) is EXACTLY the
    set of characters lying inside a >= {minlen}-char cross-doc repeat.
    The {cap}-char suffix truncation does NOT truncate regions: inside a
    repeat of length R, interval ends chain past the cap (position p+64's
    own interval extends the union), so a 500-char repeat emits one
    [p, p+499] span. Char-granular twin of ``dedup_substring_spans``
    (token windows); same islands shape, suffix-ordering evidence.
    """
    return suffix_spans(tbl(spark, sf, "documents"))


def suffix_spans(
    d: DataFrame, minlen: int = _SFX_SPAN_MIN, cap: int = _LCP_CAP, pfx: int = _LCP_PFX
) -> DataFrame:
    """Interval-union core of :func:`q_dedup_suffix_spans`."""
    s = (
        _suffix_shared(d, cap, pfx)
        .where(F.col("shared") >= minlen)
        .select("doc_id", "pos", (F.col("pos") + F.col("shared") - 1).alias("iv_end"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    s = s.withColumn(
        "prev_max_end", F.max("iv_end").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    s = s.withColumn(
        "new_isl",
        F.when(
            F.col("prev_max_end").isNull() | (F.col("pos") > F.col("prev_max_end") + 1),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    s = s.withColumn("grp", F.sum("new_isl").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        s.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max("iv_end").cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
    )


def _suffix_shared(d: DataFrame, cap: int, pfx: int) -> DataFrame:
    """Per-suffix cross-doc shared length: (doc_id, pos, shared) where
    ``shared`` = the longest common prefix (capped at ``cap``) between the
    suffix starting at ``pos`` and any suffix of a DIFFERENT document."""
    d = d.where(F.length("text") >= 1)
    suf = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos"),
        "text",
    ).select(
        "doc_id",
        "pos",
        F.expr(f"substring(text, pos, {cap})").alias("suf"),
    )
    suf = suf.withColumn("grp", F.expr(f"substring(suf, 1, {pfx})"))
    w_ord = Window.partitionBy("grp").orderBy("suf", "doc_id", "pos")
    suf = suf.select(
        "*",
        F.lag("suf").over(w_ord).alias("psuf"),
        F.lag("doc_id").over(w_ord).alias("pdoc"),
    )
    # adjacent-suffix LCP: max k with equal k-prefixes, valid only up to both
    # true lengths (equality of substring() alone over-reports for equal
    # SHORT suffixes, which truncate identically at every k)
    lcp_expr = (
        f"array_max(transform(sequence(1, {cap}), "
        "k -> IF(k <= length(psuf) AND k <= length(suf) "
        "AND substring(psuf, 1, k) = substring(suf, 1, k), k, 0)))"
    )
    suf = suf.select(
        "grp",
        "doc_id",
        "pos",
        "suf",
        F.when(F.col("psuf").isNull(), F.lit(0)).otherwise(F.expr(lcp_expr)).alias("lcp_prev"),
        F.when(
            F.col("pdoc").isNull() | (F.col("pdoc") != F.col("doc_id")), F.lit(1)
        ).otherwise(F.lit(0)).alias("chg"),
    )
    suf = suf.withColumn(
        "run", F.sum("chg").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    )
    # coalesce matters: the group's LAST row has no next suffix; a NULL here
    # would be SKIPPED by the window min, silently promoting a same-doc
    # adjacent LCP into the cross-doc forward chain
    suf = suf.withColumn("lcp_next", F.coalesce(F.lead("lcp_prev").over(w_ord), F.lit(0)))
    w_run = Window.partitionBy("grp", "run").orderBy("suf", "doc_id", "pos")
    # min of adjacent LCPs back to the previous run's last row (a different
    # doc, by run construction) / forward to the next run's first row
    suf = suf.select(
        "doc_id",
        "pos",
        F.min("lcp_prev").over(w_run.rowsBetween(Window.unboundedPreceding, 0)).alias("back_lcp"),
        F.min("lcp_next").over(w_run.rowsBetween(0, Window.unboundedFollowing)).alias("fwd_lcp"),
    )
    return suf.select(
        "doc_id",
        "pos",
        F.greatest(F.coalesce("back_lcp", F.lit(0)), F.coalesce("fwd_lcp", F.lit(0))).alias("shared"),
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_tfidf": q_dedup_tfidf,
    "dedup_prefix": q_dedup_prefix,
    "dedup_substring": q_dedup_substring,
    "dedup_substring_spans": q_dedup_substring_spans,
    "dedup_substring_multi": q_dedup_substring_multi,
    "dedup_suffix_lcp": q_dedup_suffix_lcp,
    "dedup_suffix_spans": q_dedup_suffix_spans,
}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------
_DD_TOKENS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"

_DD_BIGRAMS = f"""
list_transform(
  range(1, greatest(len({_DD_TOKENS}) - 1, 1) + 1),
  i -> array_to_string(list_slice({_DD_TOKENS}, i, i + 1), '_'))
"""


def _dd_minhash_keys_sql(
    grams_sql: str | None = None,
    num_hashes: int = _NUM_HASHES,
    bands: int = _BANDS,
    table_sql: str = "documents",
) -> str:
    """DuckDB twin of functions.hashing.minhash_band_table over any grams
    expression (defaults to the word-bigram family of dedup_minhash) and
    any source relation (``table_sql`` may be a CTE name)."""
    grams_sql = grams_sql if grams_sql is not None else _DD_BIGRAMS
    rows = num_hashes // bands
    # double-hashing family (functions.hashing._mh_base): two md5 base
    # hashes per gram, slot_i = (h1m + i*h2o) mod 2^31 with h2o forced odd
    mod = 1 << 31
    h1m = f"(('0x' || substr(md5(concat('mh0', chr(31), t)), 1, 15))::BIGINT) % {mod}"
    h2o = f"((('0x' || substr(md5(concat('mh1', chr(31), t)), 1, 15))::BIGINT) % {mod}) | 1"
    slots = [
        f"list_min(list_transform(g, t -> (({h1m}) + {i} * ({h2o})) % {mod}))"
        for i in range(num_hashes)
    ]
    keys = []
    for b in range(bands):
        part = slots[b * rows : (b + 1) * rows]
        joined = " || '_' || ".join(f"CAST({s} AS VARCHAR)" for s in part)
        keys.append(f"'b{b}:' || md5({joined})")
    selects = [
        f"SELECT doc_id, {k} AS band_key FROM (SELECT doc_id, {grams_sql} AS g FROM {table_sql}) t"
        for k in keys
    ]
    return "\nUNION ALL\n".join(selects)


_DD_SIMHASH = None


def _dd_simhash_sql() -> str:
    """votes per bit over token hashes; simhash = sum of set-bit weights."""
    h = f"list_transform({_DD_TOKENS}, t -> (('0x' || substr(md5(t), 1, 15))::BIGINT))"
    bits = []
    for b in range(60):
        vote = (
            f"list_sum(list_transform(h, v -> CASE WHEN (v >> {b}) & 1 = 1 "
            f"THEN 1 ELSE -1 END))"
        )
        bits.append(f"(CASE WHEN {vote} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)")
    total = " + ".join(bits)
    return f"SELECT doc_id, CAST({total} AS BIGINT) AS simhash FROM (SELECT doc_id, {h} AS h FROM documents) t"


_DD_SHINGLES = """
list_distinct(list_transform(range(1, greatest(strlen(text) - 2, 1) + 1),
                             i -> substr(text, i, 3)))
"""

ORACLES = {
    "dedup_exact": """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       (count(*) OVER (PARTITION BY md5(text)) > 1) AS has_dupes
FROM documents
""",
    "dedup_minhash": f"""
WITH keys AS ({_dd_minhash_keys_sql()}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM keys l JOIN keys r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
),
grams AS (SELECT doc_id, list_distinct({_DD_BIGRAMS}) AS g FROM documents)
SELECT p.doc_a, p.doc_b,
       round(len(list_intersect(a.g, b.g)) * 1.0 /
             (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) AS jaccard
FROM pairs p
JOIN grams a ON a.doc_id = p.doc_a
JOIN grams b ON b.doc_id = p.doc_b
""",
    "dedup_simhash": _dd_simhash_sql(),
    # Oracle is the brute-force Hamming ball: the segment pigeonhole is
    # lossless for hamming <= {_HAM_MAX}, so blocked result == all-pairs result.
    "dedup_simhash_pairs": f"""
WITH sh AS ({_dd_simhash_sql()})
SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
FROM sh l JOIN sh r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= {_HAM_MAX}
""",
    # brute-force containment oracle: the fixed-width prefix blocking is
    # lossless (see q_dedup_prefix), so blocked == all-pairs
    "dedup_prefix": """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(strlen(a.text) AS BIGINT) AS len_a,
       CAST(strlen(b.text) AS BIGINT) AS len_b
FROM documents a JOIN documents b
  ON a.doc_id <> b.doc_id
 AND strlen(a.text) < strlen(b.text)
 AND starts_with(b.text, a.text)
""",
    # same MinHash band candidates as dedup_minhash; integer-quantized
    # rational idf => integer dot/norms, so the only floats are one sqrt
    # and one divide per pair (both correctly rounded under IEEE-754)
    "dedup_tfidf": f"""
WITH tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_DD_TOKENS}) AS tok FROM documents) t
  GROUP BY doc_id, tok
),
dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
w AS (
  SELECT doc_id, tok,
         tf * CAST(round((CAST((SELECT n FROM n) - df AS DOUBLE) + 0.5)
                         * CAST({_TFIDF_Q} AS DOUBLE)
                         / (CAST(df AS DOUBLE) + 0.5)) AS BIGINT) AS w
  FROM tf JOIN dfs USING (tok)
),
norms AS (SELECT doc_id, sum(w * w) AS n2 FROM w GROUP BY doc_id),
keys AS ({_dd_minhash_keys_sql()}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM keys l JOIN keys r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
),
dots AS (
  SELECT p.doc_a, p.doc_b, sum(a.w * b.w) AS dot
  FROM pairs p
  JOIN w a ON a.doc_id = p.doc_a
  JOIN w b ON b.doc_id = p.doc_b AND b.tok = a.tok
  GROUP BY p.doc_a, p.doc_b
)
SELECT doc_a, doc_b,
       round(CAST(d.dot AS DOUBLE) /
             (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
WHERE round(CAST(d.dot AS DOUBLE) /
            (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) >= {_TFIDF_P}
""",
    # candidate universe = the same char-3-gram MinHash band keys the Spark
    # side generates (b=6, r=2), then the exact distinct-3-gram Jaccard verify
    "dedup_ngram_jaccard": f"""
WITH keys AS ({_dd_minhash_keys_sql(_DD_SHINGLES, _NGRAM_HASHES, _NGRAM_BANDS)}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM keys l JOIN keys r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
),
g AS (SELECT doc_id, {_DD_SHINGLES} AS g FROM documents)
SELECT p.doc_a, p.doc_b,
       round(len(list_intersect(a.g, b.g)) * 1.0 /
             (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) AS jaccard
FROM pairs p
JOIN g a ON a.doc_id = p.doc_a
JOIN g b ON b.doc_id = p.doc_b
WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
            (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) >= 0.5
""",
    "dedup_substring": f"""
WITH t AS (SELECT doc_id, {_DD_TOKENS} AS toks FROM documents),
w AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(toks[pos:pos + {_SUB_W - 1}], ' ')) AS gram_md5
  FROM t, UNNEST(generate_series(1, len(toks) - {_SUB_W - 1})) AS s(pos)
  WHERE len(toks) >= {_SUB_W}
),
support AS (
  SELECT gram_md5, count(DISTINCT doc_id) AS n_docs
  FROM w GROUP BY gram_md5 HAVING count(DISTINCT doc_id) >= 2
)
SELECT w.doc_id, w.pos, w.gram_md5, CAST(support.n_docs AS BIGINT) AS n_docs
FROM w JOIN support USING (gram_md5)
""",
    "dedup_substring_spans": f"""
WITH t AS (SELECT doc_id, {_DD_TOKENS} AS toks FROM documents),
w AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(toks[pos:pos + {_SUB_W - 1}], ' ')) AS gram_md5
  FROM t, UNNEST(generate_series(1, len(toks) - {_SUB_W - 1})) AS s(pos)
  WHERE len(toks) >= {_SUB_W}
),
support AS (
  SELECT gram_md5 FROM w GROUP BY gram_md5 HAVING count(DISTINCT doc_id) >= 2
),
dup AS (SELECT w.doc_id, w.pos FROM w JOIN support USING (gram_md5)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id, min(pos) AS span_start,
       max(pos) + {_SUB_W - 1} AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM isl GROUP BY doc_id, grp
""",
}


def _dd_spans_width_sql(width: int) -> str:
    return f"""
SELECT CAST({width} AS BIGINT) AS width, doc_id, min(pos) AS span_start,
       max(pos) + {width - 1} AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM (
    SELECT w.doc_id, w.pos FROM (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             md5(array_to_string(toks[pos:pos + {width - 1}], ' ')) AS gram_md5
      FROM (SELECT doc_id, {_DD_TOKENS} AS toks FROM documents) t,
           UNNEST(generate_series(1, len(toks) - {width - 1})) AS s(pos)
      WHERE len(toks) >= {width}
    ) w
    JOIN (
      SELECT gram_md5 FROM (
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               md5(array_to_string(toks[pos:pos + {width - 1}], ' ')) AS gram_md5
        FROM (SELECT doc_id, {_DD_TOKENS} AS toks FROM documents) t,
             UNNEST(generate_series(1, len(toks) - {width - 1})) AS s(pos)
        WHERE len(toks) >= {width}
      ) GROUP BY gram_md5 HAVING count(DISTINCT doc_id) >= 2
    ) sup USING (gram_md5)
  ) dup
) isl GROUP BY doc_id, grp
"""


ORACLES["dedup_substring_multi"] = "\nUNION ALL\n".join(
    _dd_spans_width_sql(w) for w in _SUB_WIDTHS
)

# Twin of q_dedup_suffix_lcp, run over the GLOBAL suffix order (no prefix
# grouping — DuckDB sorts 150k suffixes in one pass). Equality holds because
# every >= {pfx}-char LCP chain lives inside one contiguous prefix group, and
# all sub-{pfx} values clamp to 0 on both sides (range-min argument in the
# Spark docstring).
_DD_LCP = (
    f"list_max(list_transform(range(1, {_LCP_CAP} + 1), "
    "k -> CASE WHEN k <= length({a}) AND k <= length({b}) "
    "AND substr({a}, 1, k) = substr({b}, 1, k) THEN k ELSE 0 END))"
)

# common chain ending in shr(doc_id, pos, shared) — the per-suffix cross-doc
# shared length both suffix queries consume
_DD_SUFFIX_CTES = f"""suf AS (
  SELECT doc_id, r.i AS pos, substr(text, r.i, {_LCP_CAP}) AS suf
  FROM documents, UNNEST(range(1, length(text) + 1)) AS r(i)
  WHERE length(text) >= 1
),
ord AS (
  SELECT doc_id, pos, suf,
         lag(doc_id) OVER w AS pdoc,
         lag(suf) OVER w AS psuf
  FROM suf
  WINDOW w AS (ORDER BY suf, doc_id, pos)
),
adj AS (
  SELECT doc_id, pos, suf,
         CASE WHEN psuf IS NULL THEN 0
              ELSE {_DD_LCP.format(a='psuf', b='suf')} END AS lcp_prev,
         CASE WHEN pdoc IS NULL OR pdoc <> doc_id THEN 1 ELSE 0 END AS chg
  FROM ord
),
runs AS (
  SELECT *, sum(chg) OVER (ORDER BY suf, doc_id, pos ROWS UNBOUNDED PRECEDING) AS run
  FROM adj
),
step AS (
  SELECT *, COALESCE(lead(lcp_prev) OVER (ORDER BY suf, doc_id, pos), 0) AS lcp_next
  FROM runs
),
dirs AS (
  SELECT doc_id, pos,
         min(lcp_prev) OVER (PARTITION BY run ORDER BY suf, doc_id, pos
                             ROWS UNBOUNDED PRECEDING) AS back_lcp,
         min(lcp_next) OVER (PARTITION BY run ORDER BY suf, doc_id, pos
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_lcp
  FROM step
),
shr AS (
  SELECT doc_id, pos,
         greatest(COALESCE(back_lcp, 0), COALESCE(fwd_lcp, 0)) AS shared
  FROM dirs
)"""

ORACLES["dedup_suffix_lcp"] = f"""
WITH {_DD_SUFFIX_CTES},
per AS (SELECT doc_id, max(shared) AS mx FROM shr GROUP BY doc_id)
SELECT doc_id,
       CAST(CASE WHEN mx >= {_LCP_PFX} THEN mx ELSE 0 END AS BIGINT) AS shared_len
FROM per
"""

# extends the chain to spans(doc_id, span_start, span_end) — the interval
# union; also imported by the curation twin that cuts the spans back out
_DD_SUFFIX_SPANS_CTES = f"""{_DD_SUFFIX_CTES},
iv AS (
  SELECT doc_id, pos, pos + shared - 1 AS iv_end
  FROM shr WHERE shared >= {_SFX_SPAN_MIN}
),
mx AS (
  SELECT doc_id, pos, iv_end,
         max(iv_end) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
),
fl AS (
  SELECT *, CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS ni FROM mx
),
g AS (
  SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp
  FROM fl
),
spans AS (
  SELECT doc_id,
         CAST(min(pos) AS BIGINT) AS span_start,
         CAST(max(iv_end) AS BIGINT) AS span_end
  FROM g GROUP BY doc_id, grp
)"""

ORACLES["dedup_suffix_spans"] = f"""
WITH {_DD_SUFFIX_SPANS_CTES}
SELECT doc_id, span_start, span_end FROM spans
"""


_CANON_J = 0.8  # collapse threshold: verified near-dups this similar merge


def q_dedup_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup COLLAPSE: one canonical doc_id per near-duplicate component
    — the step a curation pipeline actually ships (plans/curation.py runs
    this exact shape in production form). Edges are the MinHash candidates
    verified at Jaccard ≥ {_CANON_J}; components come from the same
    star-contraction transitive closure as the linkage pipeline; the
    canonical is the component minimum; singletons label themselves.

    The DuckDB twin recomputes the closure with a recursive CTE, so the
    hash match certifies band keys, Jaccard verification, AND the
    distributed component labels in one row set.
    """
    from levenshtein_spark.operators.clustering import cluster_labels

    edges = (
        q_dedup_minhash(spark, sf)
        .where(F.col("jaccard") >= _CANON_J)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    ids = tbl(spark, sf, "documents").select(F.col("doc_id").alias("id"))
    return cluster_labels(ids, edges).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("canonical_id"),
    )


QUERIES["dedup_canonical"] = q_dedup_canonical
ORACLES["dedup_canonical"] = f"""
WITH RECURSIVE keys AS ({_dd_minhash_keys_sql()}),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM keys l JOIN keys r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
),
grams AS (SELECT doc_id, list_distinct({_DD_BIGRAMS}) AS g FROM documents),
edges AS (
  SELECT p.doc_a AS src, p.doc_b AS dst
  FROM pairs p
  JOIN grams a ON a.doc_id = p.doc_a
  JOIN grams b ON b.doc_id = p.doc_b
  WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
              (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) >= {_CANON_J}
),
und AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT dst AS a, src AS b FROM edges
),
reach(root, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.root, u.b FROM reach r JOIN und u ON u.a = r.node
)
SELECT CAST(root AS BIGINT) AS doc_id, CAST(min(node) AS BIGINT) AS canonical_id
FROM reach GROUP BY root
"""


def q_dedup_canonical_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Bridge-safe near-dup collapse: KwikCluster pivot clustering over the
    SAME verified edge set as ``dedup_canonical``, instead of the closure.

    The closure's known failure mode at corpus scale is the near-dup CHAIN:
    A ~ B ~ C with A !~ C still collapses A and C into one canonical
    (Lee et al. 2022's transitivity caveat). Pivot clusters are radius-1
    stars — every collapsed doc is VERIFIED similar to its canonical — so a
    chain breaks at the pivot boundary instead of collapsing end-to-end;
    the cost is keeping a few more near-dup representatives (the expected
    3-approximation of correlation-clustering disagreements). Comparing
    this row set with ``dedup_canonical`` measures exactly how much chain
    collapse the closure introduces on this corpus.

    The DuckDB twin replays the identical deterministic MIS rounds (the
    er_clustering pivot state machine) downstream of the same brute-force
    band-key + Jaccard edge derivation.
    """
    from levenshtein_spark.operators.clustering import pivot_labels

    edges = (
        q_dedup_minhash(spark, sf)
        .where(F.col("jaccard") >= _CANON_J)
        .select(
            F.col("doc_a").cast("long").alias("src"),
            F.col("doc_b").cast("long").alias("dst"),
        )
    )
    ids = tbl(spark, sf, "documents").select(F.col("doc_id").cast("long").alias("id"))
    return pivot_labels(ids, edges).select(
        F.col("id").alias("doc_id"), F.col("cluster_id").alias("canonical_id")
    )


def _dd_canonical_pivot_sql() -> str:
    from levenshtein_spark.driver_queries.er_clustering import _PIVOT_CTES

    return f"""
WITH RECURSIVE keys AS ({_dd_minhash_keys_sql()}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM keys l JOIN keys r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
),
grams AS (SELECT doc_id, list_distinct({_DD_BIGRAMS}) AS g FROM documents),
vedges AS (
  SELECT p.doc_a AS src, p.doc_b AS dst
  FROM cand p
  JOIN grams a ON a.doc_id = p.doc_a
  JOIN grams b ON b.doc_id = p.doc_b
  WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
              (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) >= {_CANON_J}
),
sym AS (
  SELECT CAST(src AS BIGINT) AS v, CAST(dst AS BIGINT) AS nb FROM vedges
  UNION
  SELECT CAST(dst AS BIGINT), CAST(src AS BIGINT) FROM vedges
),
ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
{_PIVOT_CTES}
SELECT id AS doc_id, cluster_id AS canonical_id FROM pv_labels
"""


QUERIES["dedup_canonical_pivot"] = q_dedup_canonical_pivot
ORACLES["dedup_canonical_pivot"] = _dd_canonical_pivot_sql()
