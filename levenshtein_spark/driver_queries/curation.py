"""Corpus-curation queries over the documents table.

The operations a training-data pipeline runs after cleaning/dedup, before
writing shards:

* **sample_split** — deterministic hash-based train/val/test assignment
  (a split must be a pure function of the record id so it is stable across
  re-runs, engines, and cluster sizes — never ``rand()``);
* **pack_shards** — token-budget sequence packing over the global document
  order (distributed prefix sum, ``operators/packing.py`` — no
  single-partition window anywhere);
* **bm25_search** — corpus keyword ranking: per-document TF as a column
  expression (zero shuffle), corpus DF/avgdl as one tiny aggregate
  broadcast back. The classic quality/relevance scorer for curating a
  corpus toward a topic.

Every query has an exact DuckDB twin. The BM25 variant uses the rational
idf ``(N - df + 0.5) / (df + 0.5)`` — algebraically the argument of the
textbook ``ln``-idf, monotone in it, and (unlike ``ln``) bit-reproducible
across engines; the deviation is documented here and in the oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.functions.hashing import hash64, hash_bucket
from levenshtein_spark.functions.text import token_count, word_tokens
from levenshtein_spark.operators.packing import pack_by_budget

_SPLITS = (("train", 80), ("val", 90))  # bucket < 80 → train, < 90 → val, else test
_SHARD_BUDGET = 2048
_BM25_TERMS = ("join", "vector", "customer")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_sample_split(spark: SparkSession, sf: str) -> DataFrame:
    """80/10/10 train/val/test assignment, a pure function of doc_id
    (functions.hashing.hash_bucket — the portable md5 family)."""
    d = tbl(spark, sf, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    split = F.lit("test")
    for name, ceiling in reversed(_SPLITS):
        split = F.when(bucket < ceiling, F.lit(name)).otherwise(split)
    return d.select("doc_id", bucket.alias("bucket"), split.alias("split"))


def q_pack_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget shard assignment over doc_id order (start-offset
    packing: shard = floor((cumsum - n_tokens) / budget))."""
    d = tbl(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    packed = pack_by_budget(d, ["doc_id"], "n_tokens", _SHARD_BUDGET)
    return packed.select("doc_id", "n_tokens", F.col("shard_id").cast("long").alias("shard_id"))


_STRAT_K = 25  # exact per-stratum sample size


def q_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-k-per-stratum deterministic sample (here: 25 docs per lang) —
    the balanced-subset op a curation run uses for eval slices and
    human-review batches. The order key is ``md5(doc_id)``, so the sample
    is a pure function of the data (stable across re-runs, engines, and
    cluster sizes — never ``rand()``), and unique ids make ties impossible.

    Scale shape: rank-within-stratum compiles to ``WindowGroupLimit`` —
    each map task keeps at most k rows per stratum BEFORE the shuffle, so
    the exchange carries O(strata x k x tasks), never the corpus.
    """
    from pyspark.sql import Window

    d = tbl(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= _STRAT_K)
        .select("lang", "doc_id", F.col("rk").cast("long").alias("rk"))
    )


_CHUNK_W = 64  # chunk width (tokens)
_CHUNK_S = 48  # stride (overlap = W - S = 16 tokens)


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window document chunking: split each document's token
    stream into width-64 chunks at stride 48 (16-token overlap) — the
    context-window prep step of an LLM training pipeline. Chunk count is
    ``1 + ceil((n - W) / S)`` for n > W else 1, so every token is covered,
    consecutive chunks overlap by W - S, and a short (or empty) document
    yields exactly one chunk. Chunk text is emitted as an md5 so the
    oracle compares content without shipping the strings.

    Scale shape: one scan, tokens + sequence + explode + slice are all
    codegen column expressions — no shuffle, no UDF; output is ~n/S rows
    per document, linear in the corpus.
    """
    return chunk_tokens(tbl(spark, sf, "documents"))


def chunk_tokens(
    d: DataFrame, width: int = _CHUNK_W, stride: int = _CHUNK_S
) -> DataFrame:
    """``(doc_id, text, ...)`` → ``(doc_id, chunk_idx, n_tokens, chunk_md5)``
    sliding-window chunk table (semantics in :func:`q_chunk_documents`;
    factored out so tests can drive edge-case corpora through it)."""
    toks = word_tokens(F.col("text"))
    n = F.size(toks).cast("long")
    n_chunks = F.when(n <= width, F.lit(1).cast("long")).otherwise(
        F.ceil((n - F.lit(width)).cast("double") / F.lit(float(stride))) + 1
    )
    rows = d.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("toks"), (F.col("chunk_idx") * stride + 1).cast("int"), width
    )
    return rows.select(
        "doc_id",
        "chunk_idx",
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def q_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 documents for the fixed query terms by BM25 (rational idf).

    Plan shape: per-doc TF/DL are pure column expressions over one scan;
    the corpus statistics (N, Σdl, per-term document frequency) are ONE
    1-row aggregate, broadcast back via crossJoin — no shuffle ever carries
    more than that row, and the ranking is a 20-row TakeOrdered.
    """
    d = tbl(spark, sf, "documents")
    words = word_tokens(F.col("text"))
    def tf_of(term: str):
        # NB: a two-arg lambda would be treated by F.filter as (element,
        # index) — bind the term via closure, compare against a literal
        return F.size(F.filter(words, lambda x: x == F.lit(term)))

    tf_cols = [tf_of(t).cast("long").alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)]
    tf = d.select("doc_id", F.size(words).cast("long").alias("dl"), *tf_cols)
    stats = tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    fat = tf.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = F.lit(1.0) - F.lit(_BM25_B) + F.lit(_BM25_B) * F.col("dl").cast("double") / avgdl
    score = F.lit(0.0)
    for i in range(len(_BM25_TERMS)):
        idf = ((F.col("n_docs") - F.col(f"df{i}")).cast("double") + F.lit(0.5)) / (
            F.col(f"df{i}").cast("double") + F.lit(0.5)
        )
        tf_i = F.col(f"tf{i}").cast("double")
        w = tf_i * F.lit(_BM25_K1 + 1.0) / (tf_i + F.lit(_BM25_K1) * norm)
        score = score + idf * w
    return (
        fat.select("doc_id", score.alias("_score"))
        .orderBy(F.col("_score").desc(), "doc_id")
        .limit(20)
        .select("doc_id", F.round("_score", 6).alias("bm25"))
    )


def q_corpus_profile(spark: SparkSession, sf: str) -> DataFrame:
    """One-row corpus scorecard: doc/token totals, vocabulary size, and
    exact length percentiles — the summary a curation run reports before
    and after each stage. Two 1-row aggregates (documents-level and the
    exploded vocabulary count) crossJoined; Spark's exact ``percentile``
    is bit-identical to DuckDB's ``quantile_cont`` (linear interpolation
    over the sorted values)."""
    d = tbl(spark, sf, "documents")
    doc_stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
        F.percentile("n_chars", 0.5).alias("p50_chars"),
        F.percentile("n_chars", 0.9).alias("p90_chars"),
        F.percentile("n_chars", 0.99).alias("p99_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )
    vocab = d.select(F.explode(word_tokens(F.col("text"))).alias("w")).agg(
        F.countDistinct("w").alias("vocab_size")
    )
    return doc_stats.crossJoin(F.broadcast(vocab)).select(
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / F.col("n_docs"), 6).alias("avg_tokens"),
        "p50_chars",
        "p90_chars",
        "p99_chars",
        "n_langs",
        "vocab_size",
    )


_DECON_SRC = "src0"  # the held-out "benchmark" slice
_DECON_N = 8         # word shingle width

_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_PHONE = r"\d{3}-\d{3}-\d{4}"
_PII_SSN = r"\d{3}-\d{2}-\d{4}"


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    {n}-token shingle with the held-out benchmark slice (source = src0) —
    the step that keeps eval sets out of a training corpus.

    Plan shape: shingles explode per doc; the benchmark's DISTINCT shingle
    set joins in (broadcast when small, plain equi-join at scale); the
    per-doc hit count is a map-side-combining aggregation. No UDFs,
    verification-free (exact shingle equality). The '' shingle a zero-token
    document emits is filtered on BOTH engines — two token-less docs share
    no content and must not count as contaminated.
    """
    from levenshtein_spark.functions.text import word_ngrams

    d = tbl(spark, sf, "documents")
    g = d.select(
        "doc_id", "source",
        F.explode(word_ngrams(F.col("text"), _DECON_N, " ")).alias("g"),
    ).where(F.col("g") != "")
    bench = g.where(F.col("source") == _DECON_SRC).select("g").distinct()
    hits = (
        g.where(F.col("source") != _DECON_SRC)
        .join(bench, "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared"))
    )
    return (
        d.where(F.col("source") != _DECON_SRC)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def q_text_redact_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction: email / US-phone / SSN patterns replaced with typed
    placeholders. The corpus is synthetic and clean, so a deterministic
    slice (doc_id % 5 == 0) gets PII planted first — the redactor must
    remove exactly that and nothing else. Patterns are chosen to mean the
    same thing in Java regex (Spark) and RE2 (DuckDB), and applied in a
    fixed order (email, phone, SSN) in both engines.
    """
    d = tbl(spark, sf, "documents")
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.com ph 555-123-"),
            F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(planted, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>",
        ),
        _PII_SSN, "<SSN>",
    )
    return d.select(
        "doc_id",
        (red != planted).alias("was_redacted"),
        F.md5(red).alias("redacted_md5"),
    )


_T2_WIN = 12


def q_code_clones_type2(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 code-clone classes: documents identical up to a CONSISTENT
    renaming of their tokens (the clone-detection taxonomy's "parameterized
    clone" — type-1 is exact-after-whitespace, which ``dedup_exact``
    already covers; type-3/4 need near-dup machinery, covered by
    ``dedup_minhash``/``edjoin_docs``).

    Canonical form: each token replaced by the 1-based index of its FIRST
    occurrence in the stream, so ``a b a c`` and ``x y x z`` both become
    ``1 2 1 4``-style streams and collide iff a token bijection maps one
    stream to the other. Keyed on the leading ``_T2_WIN``-token window —
    whole-file parameterized clones are vanishingly rare in any real corpus
    (and absent in this one), so clone detectors fingerprint normalized
    leading/windowed context; full-stream keying is this same expression
    with the slice dropped. Per-row arithmetic only — transform/
    array_position are JVM higher-order functions (interpreted per element,
    O(W²) per doc, embarrassingly parallel); the only shuffle is the final
    clone-key groupBy, map-side combinable. For corpora of very long files
    the canonicalization swaps to posexplode + groupBy(doc, token) min(pos)
    at the cost of one extra shuffle; at window widths the shuffle-free HOF
    form wins.
    """
    d = tbl(spark, sf, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.slice(word_tokens(F.col("text")), 1, _T2_WIN).alias("toks"),
    )
    canon = F.expr(
        "array_join(transform(toks, t -> cast(array_position(toks, t) as string)), ',')"
    )
    keyed = t.select(
        "doc_id", F.md5(F.concat_ws("|", F.col("lang"), canon)).alias("clone_key")
    )
    return (
        keyed.groupBy("clone_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("rep_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


_T3_Q = 5  # tokens per fingerprint gram (MOSS uses ~5 for code token streams)
_T3_MOD = 4  # keep gram hashes ≡ 0 (mod 4): deterministic 1/4 content sample
_T3_DF_CAP = 16  # drop fingerprints shared by more docs (MOSS "too common" rule)
_T3_MIN_OVERLAP = 0.8  # containment |A∩B| / min(|A|,|B|)


def q_code_clones_type3(spark: SparkSession, sf: str) -> DataFrame:
    """Type-3 (near-miss) code-clone pairs via MOSS-style fingerprint-set
    overlap (Schleimer et al., SIGMOD 2003): hash every ``_T3_Q``-token
    gram, keep the deterministic mod-``_T3_MOD`` sample of gram hashes as
    the document's fingerprint set, join documents on shared fingerprints,
    and report pairs whose containment overlap |A∩B| / min(|A|,|B|) ≥
    ``_T3_MIN_OVERLAP``. Completes the clone taxonomy next to
    ``dedup_exact`` (type-1, exact) and ``code_clones_type2``
    (parameterized renaming): type-3 clones differ by added/removed/edited
    statements, so no exact key exists — overlap over content samples is
    the standard detector.

    Scale shape: gram hashing is one explode + codegen md5 scan (the flat
    idiom of ``minhash_band_table`` — no interpreted-HOF re-evaluation),
    and the fingerprint stream is slim ``(doc_id, hash)``. The self-join
    key is the fingerprint VALUE, so the MOSS "too common" rule doubles as
    block purging: fingerprints shared by more than ``_T3_DF_CAP``
    documents are dropped before the join (the same census-then-join shape
    as ``block_purge_stats``), bounding per-key fan-out at CAP² — the
    documented recall trade every production clone detector makes. mod-p
    sampling keeps ~1/MOD of grams per document regardless of corpus size,
    so fingerprint volume scales with corpus length, never corpus count².
    Documents whose grams all hash ≢0 (mod p) carry no fingerprints and
    cannot match — the standard probabilistic-recall property of mod-p
    schemes (winnowing's window guarantee is the fix; ``text_fingerprint``
    carries the winnowing-min variant).
    """
    return type3_clone_pairs(tbl(spark, sf, "documents"))


def type3_clone_pairs(d: DataFrame) -> DataFrame:
    """Core of ``q_code_clones_type3`` over any (doc_id, text) DataFrame."""
    from levenshtein_spark.functions.text import word_ngrams

    g = d.select(
        "doc_id", F.explode(word_ngrams(F.col("text"), _T3_Q)).alias("g")
    ).where(F.col("g") != "")
    fp = (
        g.select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("g")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .where(F.col("h") % _T3_MOD == 0)
        .distinct()
    )
    keep = fp.groupBy("h").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= _T3_DF_CAP
    )
    fp = fp.join(keep.select("h"), "h")
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_fp"))
    inter = (
        fp.select(F.col("doc_id").alias("doc_id_a"), "h")
        .join(fp.select(F.col("doc_id").alias("doc_id_b"), "h"), "h")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_id_a"), F.col("n_fp").alias("n_a")),
            "doc_id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_id_b"), F.col("n_fp").alias("n_b")),
            "doc_id_b",
        )
        .where(F.col("n_inter") / F.least("n_a", "n_b") >= _T3_MIN_OVERLAP)
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_inter",
            "n_a",
            "n_b",
            F.round(F.col("n_inter") / F.least("n_a", "n_b"), 6).alias("overlap"),
        )
    )


_TEMP_SCALE = 2_147_483_648  # 2^31: threshold granularity for the keep rule


def q_sample_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-flattened domain sampling (the multilingual / multi-domain
    mixing rule of LLM data pipelines, e.g. mC4/XLM-R's p ∝ n^α): documents
    are kept with per-domain probability ``p_d = (n_min / n_d) ** 0.5``
    (α = 0.5), so the smallest domain keeps everything and head domains are
    downsampled toward a flat mix. The keep decision is a pure function of
    doc_id — ``hash64(doc_id) mod 2^31 < floor(p_d * 2^31)`` — never
    ``rand()``, so the sample is stable across re-runs, engines, and
    cluster sizes, and the DuckDB twin reproduces it bit-for-bit
    (``p_d`` is one correctly-rounded IEEE divide + one sqrt; the md5
    family is the portable one).

    Scale shape: one map-side-combining count per domain (rows = domains),
    a scalar min, and one broadcast join of the ≤|domains| rate table back
    onto the corpus — the corpus itself never shuffles.
    """
    d = tbl(spark, sf, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_d"))
    n_min = counts.agg(F.min("n_d").alias("n_min"))
    rates = counts.join(F.broadcast(n_min)).select(
        "lang",
        "n_d",
        F.sqrt(F.col("n_min").cast("double") / F.col("n_d").cast("double")).alias("p_keep"),
    )
    draw = F.pmod(
        hash64(F.concat(F.lit("temp\x1f"), F.col("doc_id").cast("string"))),
        F.lit(_TEMP_SCALE),
    )
    thresh = F.floor(F.col("p_keep") * F.lit(float(_TEMP_SCALE))).cast("long")
    return d.join(F.broadcast(rates), "lang").select(
        "doc_id",
        "lang",
        F.col("n_d").cast("long").alias("n_d"),
        F.col("p_keep"),
        (draw < thresh).alias("kept"),
    )


# HyperLogLog shape: 60-bit portable hash = 6 bucket bits + 54-bit rho
# window; rho in [1, 55]; registers scale-exactly into 2^(55-M) BIGINTs so
# the harmonic sum is INTEGER-exact (no float-order dependence) and the
# estimate is one correctly-rounded divide in both engines.
_HLL_M = 64
_HLL_RHO_MAX = 55
_HLL_SCALE = 1 << 55
_HLL_NUM = (0.7213 / (1 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(_HLL_SCALE)


def q_corpus_hll_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language distinct-token count TWO ways: exact, and the
    HyperLogLog estimate from a 64-register sketch over the portable 60-bit
    hash — the MERGEABLE way to count distincts at corpus scale (registers
    combine by max across partitions, shards, and days; the exact count
    needs a full distinct shuffle of every token).

    Exactness discipline: rho comes from integer bit-length (``bin``), the
    harmonic sum is the exact integer Σ 2^({rho_max}-M_j) (absent registers
    contribute 2^{rho_max}), and the estimate is a single divide of a
    Python-precomputed constant — so the DuckDB twin reproduces the
    ESTIMATE bit-for-bit, certifying every register. No small-range
    ``ln`` correction (engine libm ulps differ); the raw estimate plus the
    zero-register count is emitted so callers can apply their own.
    """
    d = tbl(spark, sf, "documents")
    toks = d.select("lang", F.explode(word_tokens(F.col("text"))).alias("tok"))
    t = toks.select("lang", "tok", hash64(F.col("tok")).alias("h"))
    t = t.select(
        "lang",
        "tok",
        F.pmod(F.col("h"), F.lit(_HLL_M)).alias("bucket"),
        F.expr(f"h div {_HLL_M}").alias("rest"),
    )
    t = t.withColumn(
        "rho",
        F.when(F.col("rest") == 0, F.lit(_HLL_RHO_MAX)).otherwise(
            F.lit(_HLL_RHO_MAX) - F.length(F.bin("rest"))
        ),
    )
    regs = t.groupBy("lang", "bucket").agg(F.max("rho").alias("M"))
    per = regs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({_HLL_RHO_MAX} - M AS INT))")
        ).alias("s_present"),
    )
    per = per.select(
        "lang",
        (F.lit(_HLL_M) - F.col("cnt")).cast("long").alias("v_zero"),
        (
            F.col("s_present")
            + (F.lit(_HLL_M) - F.col("cnt")) * F.lit(_HLL_SCALE)
        ).alias("s_total"),
    )
    exact = toks.groupBy("lang").agg(F.countDistinct("tok").alias("n_exact"))
    return per.join(exact, "lang").select(
        "lang",
        F.col("n_exact").cast("long").alias("n_exact"),
        "v_zero",
        F.round(F.lit(_HLL_NUM) / F.col("s_total").cast("double"), 6).alias("hll_est"),
    )


def q_curation_cut_spans(spark: SparkSession, sf: str) -> DataFrame:
    """APPLY the duplicated-region cut-list: rebuild each document's text
    with every cross-doc verbatim region (``dedup_suffix_spans``) removed —
    the Lee et al. "dedup at the substring level" step a pretraining
    pipeline actually executes, as opposed to reporting the spans.

    The reconstruction is one JVM ``aggregate`` fold over the doc's sorted
    span list (spans per doc are few; the corpus never shuffles beyond the
    span groupBy), concatenating the kept gaps. Output carries the kept/cut
    char counts and the md5 of the cleaned text — so the DuckDB twin
    certifies the exact rebuilt STRING, not just its length.
    """
    from levenshtein_spark.driver_queries.dedup import suffix_spans

    d = tbl(spark, sf, "documents")
    spans = suffix_spans(d)
    cuts = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_end"))).alias("cuts")
    )
    j = d.select("doc_id", "text").join(cuts, "doc_id", "left")
    rebuild = (
        "aggregate(cuts, "
        "named_struct('prev', CAST(0 AS BIGINT), 'out', ''), "
        "(acc, s) -> named_struct("
        "  'prev', s.span_end, "
        "  'out', concat(acc.out, substring(text, CAST(acc.prev + 1 AS INT), "
        "                                   CAST(s.span_start - acc.prev - 1 AS INT)))), "
        "acc -> concat(acc.out, substring(text, CAST(acc.prev + 1 AS INT), "
        "                                 CAST(length(text) - acc.prev AS INT))))"
    )
    j = j.withColumn(
        "clean", F.when(F.col("cuts").isNull(), F.col("text")).otherwise(F.expr(rebuild))
    )
    return j.select(
        "doc_id",
        F.length("clean").cast("long").alias("n_kept"),
        (F.length("text") - F.length("clean")).cast("long").alias("n_cut"),
        F.md5("clean").alias("clean_md5"),
    )


QUERIES = {
    "sample_split": q_sample_split,
    "sample_temperature": q_sample_temperature,
    "sample_stratified": q_sample_stratified,
    "chunk_documents": q_chunk_documents,
    "pack_shards": q_pack_shards,
    "bm25_search": q_bm25_search,
    "corpus_profile": q_corpus_profile,
    "decontaminate": q_decontaminate,
    "text_redact_pii": q_text_redact_pii,
    "code_clones_type2": q_code_clones_type2,
    "code_clones_type3": q_code_clones_type3,
    "curation_cut_spans": q_curation_cut_spans,
    "corpus_hll_distinct": q_corpus_hll_distinct,
}


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------
_DD_BUCKET = "(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 100"
_DD_WS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')"
_DD_WORDS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def _dd_split_case() -> str:
    expr = "'test'"
    for name, ceiling in reversed(_SPLITS):
        expr = f"CASE WHEN {_DD_BUCKET} < {ceiling} THEN '{name}' ELSE {expr} END"
    return expr


def _dd_bm25() -> str:
    tf_sel = ", ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_sel = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1, k1p1, b = _BM25_K1, _BM25_K1 + 1.0, _BM25_B
    norm = f"(1.0 - {b} + {b} * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))"
    terms = []
    for i in range(len(_BM25_TERMS)):
        idf = f"((CAST(n_docs - df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
        w = f"(CAST(tf{i} AS DOUBLE) * {k1p1} / (CAST(tf{i} AS DOUBLE) + {k1} * {norm}))"
        terms.append(f"{idf} * {w}")
    # left-assoc sum starting at 0.0, mirroring the Spark column fold exactly
    score = "0.0"
    for t in terms:
        score = f"({score} + {t})"
    return f"""
WITH tf AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, {tf_sel}
  FROM (SELECT doc_id, {_DD_WORDS} AS w FROM documents) t
),
stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_sel} FROM tf)
SELECT doc_id, round(_score, 6) AS bm25
FROM (SELECT doc_id, {score} AS _score FROM tf, stats)
ORDER BY _score DESC, doc_id
LIMIT 20
"""


ORACLES = {
    "sample_split": f"""
SELECT doc_id, {_DD_BUCKET} AS bucket, {_dd_split_case()} AS split
FROM documents
""",
    "sample_stratified": f"""
SELECT lang, doc_id, rk FROM (
  SELECT lang, doc_id,
         CAST(row_number() OVER (
              PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS rk
  FROM documents
) t WHERE rk <= {_STRAT_K}
""",
    # chunk count: 1 for n <= W, else 1 + ceil((n - W) / S); list_slice is
    # inclusive-end and truncates past the array, matching Spark's slice
    "chunk_documents": f"""
WITH t AS (
  SELECT doc_id, {_DD_WORDS} AS toks, len({_DD_WORDS}) AS n FROM documents
),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, CASE WHEN n <= {_CHUNK_W} THEN 1
                              ELSE CAST(ceil((n - {_CHUNK_W}) / {float(_CHUNK_S)}) AS BIGINT) + 1
                         END)) AS chunk_idx
  FROM t
)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                           chunk_idx * {_CHUNK_S} + {_CHUNK_W})) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                                      chunk_idx * {_CHUNK_S} + {_CHUNK_W}), ' ')) AS chunk_md5
FROM c
""",
    "pack_shards": f"""
SELECT doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens)
                  / {_SHARD_BUDGET}) AS BIGINT) AS shard_id
FROM (SELECT doc_id, CAST(len({_DD_WS}) AS BIGINT) AS n_tokens FROM documents) t
""",
    "bm25_search": _dd_bm25(),
    "decontaminate": f"""
WITH w AS (SELECT doc_id, source, {_DD_WORDS} AS w FROM documents),
g AS (
  SELECT doc_id, source, g FROM (
    SELECT doc_id, source,
           unnest(list_transform(range(1, greatest(len(w) - {_DECON_N - 1}, 1) + 1),
                                 i -> array_to_string(list_slice(w, i, i + {_DECON_N - 1}), ' '))) AS g
    FROM w
  ) t WHERE g <> ''
),
bench AS (SELECT DISTINCT g FROM g WHERE source = '{_DECON_SRC}'),
hits AS (
  SELECT g.doc_id, count(DISTINCT g.g) AS n_shared
  FROM g JOIN bench USING (g)
  WHERE g.source <> '{_DECON_SRC}'
  GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(n_shared, 0) AS BIGINT) AS n_shared,
       coalesce(n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
WHERE d.source <> '{_DECON_SRC}'
""",
    "text_redact_pii": f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.com ph 555-123-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(t,
         '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g'),
         '{_PII_SSN}', '<SSN>', 'g') <> t AS was_redacted,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
         '{_PII_EMAIL}', '<EMAIL>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g'),
         '{_PII_SSN}', '<SSN>', 'g')) AS redacted_md5
FROM planted
""",
    "corpus_profile": f"""
WITH ds AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_DD_WS})) AS BIGINT) AS total_tokens,
         quantile_cont(n_chars, 0.5) AS p50_chars,
         quantile_cont(n_chars, 0.9) AS p90_chars,
         quantile_cont(n_chars, 0.99) AS p99_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents
),
v AS (
  SELECT CAST(count(DISTINCT w) AS BIGINT) AS vocab_size
  FROM (SELECT unnest({_DD_WORDS}) AS w FROM documents) t
)
SELECT n_docs, total_tokens,
       round(total_tokens * 1.0 / n_docs, 6) AS avg_tokens,
       p50_chars, p90_chars, p99_chars, n_langs, vocab_size
FROM ds, v
""",
    # type-2 clone key: first-occurrence index stream; Spark array_position
    # and DuckDB list_position are both 1-based and every element is found,
    # so the canonical strings are byte-identical
    "code_clones_type2": f"""
WITH t AS (
  SELECT doc_id, lang, list_slice({_DD_WORDS}, 1, {_T2_WIN}) AS toks FROM documents
),
k AS (
  SELECT doc_id,
         md5(lang || '|' || array_to_string(
             list_transform(toks, x -> CAST(list_position(toks, x) AS VARCHAR)),
             ',')) AS clone_key
  FROM t
)
SELECT clone_key, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS rep_doc_id
FROM k GROUP BY clone_key HAVING count(*) >= 2
""",
    # type-3 MOSS fingerprints: same gram window, md5→long, mod-p sample,
    # df cap, and containment formula as the Spark side; count(*) over the
    # DISTINCT (doc_id, h) stream is the intersection size
    "code_clones_type3": f"""
WITH w AS (SELECT doc_id, {_DD_WORDS} AS w FROM documents),
g AS (
  SELECT doc_id, unnest(list_transform(
    range(1, greatest(len(w) - {_T3_Q - 1}, 1) + 1),
    i -> array_to_string(list_slice(w, i, i + {_T3_Q - 1}), '_'))) AS g
  FROM w
),
fp AS (
  SELECT DISTINCT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM g
  WHERE g <> '' AND ('0x' || substr(md5(g), 1, 15))::BIGINT % {_T3_MOD} = 0
),
keep AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= {_T3_DF_CAP}),
fp2 AS (SELECT fp.doc_id, fp.h FROM fp JOIN keep USING (h)),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM fp2 GROUP BY doc_id),
pr AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM fp2 a JOIN fp2 b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_a, doc_id_b, n_inter, sa.n AS n_a, sb.n AS n_b,
       round(CAST(n_inter AS DOUBLE) / least(sa.n, sb.n), 6) AS overlap
FROM pr
JOIN sz sa ON pr.doc_id_a = sa.doc_id
JOIN sz sb ON pr.doc_id_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / least(sa.n, sb.n) >= {_T3_MIN_OVERLAP}
""",
    "sample_temperature": f"""
WITH counts AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY lang),
m AS (SELECT min(n_d) AS n_min FROM counts),
rates AS (
  SELECT lang, CAST(n_d AS BIGINT) AS n_d,
         sqrt(CAST(n_min AS DOUBLE) / CAST(n_d AS DOUBLE)) AS p_keep
  FROM counts, m
)
SELECT d.doc_id, d.lang, r.n_d, r.p_keep,
       (('0x' || substr(md5('temp' || chr(31) || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
        % {_TEMP_SCALE}) < CAST(floor(r.p_keep * {_TEMP_SCALE}.0) AS BIGINT) AS kept
FROM documents d JOIN rates r USING (lang)
""",
}


def _dd_cut_spans_sql() -> str:
    """Twin of q_curation_cut_spans: re-derives the span table via the
    suffix-chain CTEs, then rebuilds the cleaned string as an ordered
    string_agg of the kept gaps (mid pieces between spans + the tail)."""
    from levenshtein_spark.driver_queries.dedup import _DD_SUFFIX_SPANS_CTES

    return f"""
WITH {_DD_SUFFIX_SPANS_CTES},
sp AS (
  SELECT doc_id, span_start, span_end,
         COALESCE(lag(span_end) OVER (PARTITION BY doc_id ORDER BY span_start), 0) AS prev_end
  FROM spans
),
pieces AS (
  SELECT sp.doc_id,
         substr(d.text, CAST(sp.prev_end + 1 AS INT),
                CAST(sp.span_start - sp.prev_end - 1 AS INT)) AS piece,
         sp.span_start AS ord
  FROM sp JOIN documents d USING (doc_id)
  UNION ALL
  SELECT d.doc_id, substr(d.text, CAST(COALESCE(m.max_e, 0) + 1 AS INT)) AS piece,
         2147483647 AS ord
  FROM documents d
  LEFT JOIN (SELECT doc_id, max(span_end) AS max_e FROM spans GROUP BY doc_id) m
    USING (doc_id)
),
clean AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS ct FROM pieces GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(length(c.ct) AS BIGINT) AS n_kept,
       CAST(length(d.text) - length(c.ct) AS BIGINT) AS n_cut,
       md5(c.ct) AS clean_md5
FROM clean c JOIN documents d USING (doc_id)
"""


ORACLES["curation_cut_spans"] = _dd_cut_spans_sql()


ORACLES["corpus_hll_distinct"] = f"""
WITH toks AS (
  SELECT lang, unnest({_DD_WORDS}) AS tok FROM documents
),
h AS (
  SELECT lang, tok, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
rb AS (
  SELECT lang, tok, h % {_HLL_M} AS bucket, h // {_HLL_M} AS rest FROM h
),
rr AS (
  SELECT lang, bucket,
         CASE WHEN rest = 0 THEN {_HLL_RHO_MAX}
              ELSE {_HLL_RHO_MAX} - length(bin(rest)) END AS rho
  FROM rb
),
regs AS (SELECT lang, bucket, max(rho) AS M FROM rr GROUP BY lang, bucket),
per AS (
  SELECT lang, count(*) AS cnt,
         sum((1::BIGINT << CAST({_HLL_RHO_MAX} - M AS INT))) AS s_present
  FROM regs GROUP BY lang
),
ex AS (SELECT lang, count(DISTINCT tok) AS n_exact FROM toks GROUP BY lang)
SELECT p.lang,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST({_HLL_M} - p.cnt AS BIGINT) AS v_zero,
       round({_HLL_NUM!r} / CAST(p.s_present + ({_HLL_M} - p.cnt) * {_HLL_SCALE} AS DOUBLE), 6)
         AS hll_est
FROM per p JOIN ex e USING (lang)
"""


def q_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """THE COMPOSED PRODUCT PATH, certified per-document: the exact stage
    flow of ``plans/curation.py`` (jobs/curate.py) — profile → quality gate
    → exact dedup → MinHash near-dup collapse → hash splits → token-budget
    shard packing — re-expressed as one query whose output row per document
    is its final disposition: ``status`` in {low_quality, exact_dup,
    near_dup, kept}, plus the split and shard assignment for kept docs.

    The DuckDB twin recomputes every stage independently (quality math,
    top-word fraction, md5 groups, band keys, Jaccard verify, recursive-CTE
    transitive closure, hash splits, per-split prefix-sum packing), so the
    hash match certifies the PIPELINE COMPOSITION, not just each operator —
    the strongest single correctness pin on the thing the spark-submit job
    actually ships. Stage semantics and config mirror CurationConfig's
    defaults (quality ≥ 0.4, top-word ≤ 0.5, Jaccard ≥ 0.8, 80/10/10,
    budget 2048); the Jaccard compare uses the registry's proven
    round-to-6 discipline.
    """
    from levenshtein_spark.functions.hashing import hash_bucket, minhash_band_table
    from levenshtein_spark.functions.text import quality_score, word_bigrams
    from levenshtein_spark.operators.clustering import cluster_labels
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
    from levenshtein_spark.operators.packing import pack_by_budget
    from levenshtein_spark.session import scoped_persist

    d = tbl(spark, sf, "documents")
    topw = (
        d.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_word_frac"))
    )
    prof = (
        d.select(
            "doc_id",
            "text",
            F.md5("text").alias("fp"),
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            quality_score(F.col("text")).alias("quality"),
        )
        .join(topw, "doc_id", "left")
        .withColumn("top_word_frac", F.coalesce("top_word_frac", F.lit(0.0)))
        .transform(scoped_persist)
    )
    passed = (F.col("quality") >= 0.4) & (F.col("top_word_frac") <= 0.5)
    kept = prof.where(passed)
    exact_min = kept.groupBy("fp").agg(F.min("doc_id").alias("canon_fp"))
    kept2 = kept.join(exact_min, "fp").transform(scoped_persist)
    reps = kept2.where(F.col("doc_id") == F.col("canon_fp"))

    bands = minhash_band_table(
        reps, "doc_id", word_bigrams(F.col("text")), 8, 4
    ).select(F.col("band_key").alias("block_key"), "id")
    pairs = candidate_pairs(bands, hot_threshold=2000).drop("n_keys")
    grams = reps.select(
        F.col("doc_id").alias("id"), F.array_distinct(word_bigrams(F.col("text"))).alias("g")
    )
    fat = attach_pair_payload(pairs, grams, ["g"])
    jac = F.round(
        F.size(F.array_intersect("g_a", "g_b")).cast("double")
        / F.size(F.array_union("g_a", "g_b")),
        6,
    )
    edges = fat.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), jac.alias("j")
    ).where(F.col("j") >= 0.8).drop("j")
    lab = cluster_labels(reps.select(F.col("doc_id").alias("id")), edges).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )

    canon = lab.where(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    splits = canon.join(kept2.select("doc_id", "n_tokens"), "doc_id").select(
        "doc_id",
        "n_tokens",
        F.when(hash_bucket(F.col("doc_id")) < 80, "train")
        .when(hash_bucket(F.col("doc_id")) < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    packed = pack_by_budget(
        splits, ["doc_id"], "n_tokens", 2048, group_cols=["split"]
    ).select("doc_id", "split", "shard_id")

    full = (
        prof.select("doc_id", passed.alias("passed"))
        .join(kept2.select("doc_id", "canon_fp"), "doc_id", "left")
        .join(lab, "doc_id", "left")
    )
    status = (
        F.when(~F.col("passed"), F.lit("low_quality"))
        .when(F.col("doc_id") != F.col("canon_fp"), F.lit("exact_dup"))
        .when(F.col("cluster_id") != F.col("doc_id"), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        full.select("doc_id", status.alias("status"))
        .join(packed, "doc_id", "left")
        .select("doc_id", "status", "split", F.col("shard_id").cast("long").alias("shard_id"))
    )


QUERIES["curation_funnel"] = q_curation_funnel


def _dd_funnel_sql() -> str:
    """Twin of q_curation_funnel — every stage recomputed independently."""
    from levenshtein_spark.driver_queries.dedup import _DD_BIGRAMS, _dd_minhash_keys_sql
    from levenshtein_spark.driver_queries.text import _DD_QUALITY

    keys = _dd_minhash_keys_sql(table_sql="reps")
    return f"""
WITH RECURSIVE
topw AS (
  SELECT doc_id, max(c) * 1.0 / sum(c) AS top_word_frac
  FROM (SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest({_DD_WORDS}) AS w FROM documents) tw
        GROUP BY doc_id, w) tc
  GROUP BY doc_id
),
prof AS (
  SELECT d.doc_id, d.text, md5(d.text) AS fp,
         CAST(len({_DD_WS}) AS BIGINT) AS n_tokens,
         {_DD_QUALITY} AS quality,
         COALESCE(t.top_word_frac, 0.0) AS top_word_frac
  FROM documents d LEFT JOIN topw t USING (doc_id)
),
kept AS (SELECT * FROM prof WHERE quality >= 0.4 AND top_word_frac <= 0.5),
exact_min AS (SELECT fp, min(doc_id) AS canon_fp FROM kept GROUP BY fp),
kept2 AS (SELECT k.*, e.canon_fp FROM kept k JOIN exact_min e USING (fp)),
reps AS (SELECT * FROM kept2 WHERE doc_id = canon_fp),
keys AS ({keys}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM keys l JOIN keys r ON l.band_key = r.band_key AND l.doc_id < r.doc_id
),
grams AS (SELECT doc_id, list_distinct({_DD_BIGRAMS}) AS g FROM reps),
edges AS (
  SELECT c.doc_a AS src, c.doc_b AS dst
  FROM cand c
  JOIN grams a ON a.doc_id = c.doc_a
  JOIN grams b ON b.doc_id = c.doc_b
  WHERE round(len(list_intersect(a.g, b.g)) * 1.0 /
              (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) >= 0.8
),
und AS (
  SELECT src AS a, dst AS b FROM edges
  UNION
  SELECT dst AS a, src AS b FROM edges
),
reach(root, node) AS (
  SELECT doc_id, doc_id FROM reps
  UNION
  SELECT r.root, u.b FROM reach r JOIN und u ON u.a = r.node
),
lab AS (SELECT root AS doc_id, min(node) AS cluster_id FROM reach GROUP BY root),
canon AS (SELECT doc_id FROM lab WHERE doc_id = cluster_id),
splits AS (
  SELECT c.doc_id, k.n_tokens, {_dd_split_case()} AS split
  FROM canon c JOIN kept2 k USING (doc_id)
),
packed AS (
  SELECT doc_id, split,
         CAST(floor((sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id)
                     - n_tokens) / 2048) AS BIGINT) AS shard_id
  FROM splits
),
st AS (
  SELECT p.doc_id,
         CASE WHEN NOT (p.quality >= 0.4 AND p.top_word_frac <= 0.5) THEN 'low_quality'
              WHEN k.doc_id IS NOT NULL AND k.doc_id <> k.canon_fp THEN 'exact_dup'
              WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> p.doc_id THEN 'near_dup'
              ELSE 'kept' END AS status
  FROM prof p
  LEFT JOIN kept2 k USING (doc_id)
  LEFT JOIN lab l USING (doc_id)
)
SELECT s.doc_id, s.status, pk.split, pk.shard_id
FROM st s LEFT JOIN packed pk USING (doc_id)
"""


ORACLES["curation_funnel"] = _dd_funnel_sql()


def q_corpus_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT per-language length percentiles (p50/p90/p99, type-1: smallest
    value whose cumulative count reaches ceil(p·n)) — the corpus-profiling
    number a curation run gates on, computed WITHOUT sorting the corpus.

    Scale shape — the counting-sort quantile: lengths have a bounded
    domain, so one map-side-combining ``groupBy(lang, n_chars)`` collapses
    the corpus to a histogram no bigger than |langs|×|distinct lengths|;
    the cumulative window then runs over the HISTOGRAM, not the rows.
    That beats both a per-lang sort (full shuffle of every row) and
    ``approx_percentile`` (not exact, not oracle-checkable). Rank targets
    use pure integer arithmetic: ceil(n·k/100) = (n·k + 99) div 100 —
    no float boundary anywhere, so the DuckDB twin is bit-identical.
    For unbounded/continuous domains the same shape applies after a fixed
    quantization (or a mergeable KLL sketch when exactness can be traded).
    """
    from pyspark.sql import Window

    d = tbl(spark, sf, "documents")
    hist = d.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("lang").orderBy("n_chars")
    wt = Window.partitionBy("lang")
    s = hist.select(
        "lang", "n_chars",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wt).alias("tot"),
    )

    def pick(k: int):
        target = F.expr(f"(tot * {k} + 99) div 100")
        return (
            F.min(F.when(F.col("cum") >= target, F.col("n_chars")))
            .cast("long")
            .alias(f"p{k}")
        )

    return s.groupBy("lang").agg(
        F.max("tot").cast("long").alias("n_docs"), pick(50), pick(90), pick(99)
    )


QUERIES["corpus_percentiles"] = q_corpus_percentiles
ORACLES["corpus_percentiles"] = """
WITH h AS (
  SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY lang, n_chars
),
s AS (
  SELECT lang, n_chars,
         sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
         sum(c) OVER (PARTITION BY lang) AS tot
  FROM h
)
SELECT lang,
       CAST(max(tot) AS BIGINT) AS n_docs,
       CAST(min(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN n_chars END) AS BIGINT) AS p50,
       CAST(min(CASE WHEN cum >= (tot * 90 + 99) // 100 THEN n_chars END) AS BIGINT) AS p90,
       CAST(min(CASE WHEN cum >= (tot * 99 + 99) // 100 THEN n_chars END) AS BIGINT) AS p99
FROM s GROUP BY lang
"""


# Count-Min sketch shape: d=4 independent portable-hash rows × w=512
# counters; est(tok) = min over rows of its counter. est >= exact always
# (only collisions inflate), so thresholding the ESTIMATE never drops a
# true heavy hitter; overshoot is bounded by e·N/w per row with the usual
# probabilistic guarantee over rows. Counters are plain sums → the sketch
# merges across partitions / shards / days by addition, like the HLL
# registers merge by max.
_CMS_D = 4
_CMS_W = 512
_CMS_DEN = 200  # heavy hitter := est >= total_tokens/200 (0.5%)


def q_corpus_cms_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Heavy-hitter tokens via a Count-Min sketch, next to their exact
    counts for calibration — the streaming/mergeable way to track hot
    tokens (boilerplate markers, spam n-grams) where exact per-token
    counting would shuffle every distinct token.

    The sketch itself is 4×512 integer counters (one map-side-combining
    aggregate over the exploded token stream); candidates probe it via a
    BROADCAST of those ≤2048 rows — the corpus-side stream never shuffles
    for the probe. Candidates here are the corpus's distinct tokens (one
    aggregate; in a live deployment a heap beside the sketch plays this
    role). All integer-exact, so the DuckDB twin reproduces every counter
    and the exact min — certifying the sketch, not just the output rows.
    """
    d = tbl(spark, sf, "documents")
    toks = d.select(F.explode(word_tokens(F.col("text"))).alias("tok"))
    bcols = [
        F.pmod(hash64(F.col("tok"), seed=i + 1), F.lit(_CMS_W)).alias(f"b{i}")
        for i in range(_CMS_D)
    ]
    tb = toks.select("tok", *bcols)
    barr = F.array(*[F.col(f"b{i}") for i in range(_CMS_D)])
    counters = (
        tb.select(F.posexplode(barr).alias("r", "b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = tb.groupBy("tok", *[f"b{i}" for i in range(_CMS_D)]).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    probes = exact.select("tok", "n_exact", F.posexplode(barr).alias("r", "b"))
    est = (
        probes.join(F.broadcast(counters), ["r", "b"])
        .groupBy("tok", "n_exact")
        .agg(F.min("cnt").alias("cms_est"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("tot"))
    return (
        est.join(F.broadcast(total))
        .where(F.col("cms_est") >= F.expr(f"tot div {_CMS_DEN}"))
        .select(
            "tok",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("cms_est").cast("long").alias("cms_est"),
        )
    )


QUERIES["corpus_cms_topk"] = q_corpus_cms_topk
_CMS_B_SQL = [
    f"(('0x' || substr(md5(concat('{i + 1}', chr(31), tok)), 1, 15))::BIGINT) % {_CMS_W}"
    for i in range(_CMS_D)
]
ORACLES["corpus_cms_topk"] = f"""
WITH toks AS (
  SELECT unnest({_DD_WORDS}) AS tok FROM documents
),
tb AS (
  SELECT tok, {_CMS_B_SQL[0]} AS b0, {_CMS_B_SQL[1]} AS b1,
         {_CMS_B_SQL[2]} AS b2, {_CMS_B_SQL[3]} AS b3
  FROM toks
),
c0 AS (SELECT b0 AS b, count(*) AS cnt FROM tb GROUP BY b0),
c1 AS (SELECT b1 AS b, count(*) AS cnt FROM tb GROUP BY b1),
c2 AS (SELECT b2 AS b, count(*) AS cnt FROM tb GROUP BY b2),
c3 AS (SELECT b3 AS b, count(*) AS cnt FROM tb GROUP BY b3),
e AS (
  SELECT tok, b0, b1, b2, b3, count(*) AS n_exact
  FROM tb GROUP BY tok, b0, b1, b2, b3
),
t AS (SELECT count(*) AS tot FROM toks)
SELECT e.tok,
       CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(least(c0.cnt, c1.cnt, c2.cnt, c3.cnt) AS BIGINT) AS cms_est
FROM e
JOIN c0 ON c0.b = e.b0
JOIN c1 ON c1.b = e.b1
JOIN c2 ON c2.b = e.b2
JOIN c3 ON c3.b = e.b3, t
WHERE least(c0.cnt, c1.cnt, c2.cnt, c3.cnt) >= t.tot // {_CMS_DEN}
"""


# ---------------------------------------------------------------------------
# Length-weighted deterministic sampling
# ---------------------------------------------------------------------------
_WS_SCALE = 1 << 30  # 30-bit draw: max(weight) * 2^30 stays far inside int64


def q_sample_weighted(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted Bernoulli sampling with P(keep) ∝ document weight — here
    weight = whitespace token count + 1, i.e. sample probability
    proportional to a document's token budget (the policy that makes a
    UNIFORM sample of *tokens* rather than of documents: pairs with
    ``pack_shards``/``chunk_documents``, where the unit of training cost is
    the token, not the row).

    Same determinism contract as ``sample_temperature``: the keep decision
    is a pure function of doc_id — ``hash64('wsamp', doc_id) mod 2^30 *
    W_max < w * 2^30`` — with the threshold comparison in EXACT integer
    cross-multiplication (no float rate anywhere, unlike the temperature
    query's correctly-rounded p_d), so the sample is bit-stable across
    re-runs, engines, partitionings, and cluster sizes. ``W_max`` caps the
    acceptance scale: the heaviest document is kept with probability 1.

    Scale shape: one map-side max for W_max, broadcast back as a scalar;
    the corpus never shuffles — every other op is a stateless projection.
    int64 bounds: draw < 2^30, w <= W_max ~ 10^3..10^5 tokens, so both
    cross products stay under 2^47.
    """
    d = tbl(spark, sf, "documents")
    w = (token_count(F.col("text")) + F.lit(1)).cast("long")
    base = d.select("doc_id", w.alias("w"))
    wmax = base.agg(F.max("w").alias("w_max"))
    draw = F.pmod(
        hash64(F.concat(F.lit("wsamp\x1f"), F.col("doc_id").cast("string"))),
        F.lit(_WS_SCALE),
    )
    return base.join(F.broadcast(wmax)).select(
        "doc_id",
        "w",
        "w_max",
        (draw * F.col("w_max") < F.col("w") * F.lit(_WS_SCALE)).alias("sampled"),
    )


QUERIES["sample_weighted"] = q_sample_weighted

from levenshtein_spark.oracles import dd_hash64 as _dd_h64  # noqa: E402

ORACLES["sample_weighted"] = f"""
WITH base AS (
  SELECT doc_id, CAST(len({_DD_WS}) + 1 AS BIGINT) AS w FROM documents
),
mx AS (SELECT max(w) AS w_max FROM base)
SELECT doc_id, w, w_max,
       ({_dd_h64("'wsamp' || chr(31) || CAST(doc_id AS VARCHAR)")} % {_WS_SCALE})
         * w_max < w * {_WS_SCALE} AS sampled
FROM base, mx
"""


# ---------------------------------------------------------------------------
# Robust length-outlier gate (median + MAD, both exact)
# ---------------------------------------------------------------------------
_OUT_K = 5  # flag |len - median| > K * MAD


def q_corpus_length_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-language length-outlier gate: flag documents whose length
    deviates from the language median by more than {k}×MAD (median absolute
    deviation) — the outlier rule quality pipelines prefer over mean±stddev
    because a heavy tail of giant documents cannot drag the threshold.

    Both statistics are EXACT integers via the counting-sort histogram
    (the ``corpus_percentiles`` shape, run twice): median = type-1 p50 of
    the (lang, n_chars) histogram; MAD = type-1 p50 of the (lang,
    |n_chars − median|) histogram. The flag compares integers — no float
    anywhere, so the twin is bit-identical.

    Scale shape: two map-side-combining histogram aggregations (state =
    |langs| × |distinct lengths|), two windows over the HISTOGRAM rows, one
    broadcast of the ≤|langs| stat table back onto the corpus. The corpus
    shuffles zero times.
    """
    from pyspark.sql import Window

    d = tbl(spark, sf, "documents")

    def _p50(df, val_col):
        hist = df.groupBy("lang", val_col).agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("lang").orderBy(val_col)
        wt = Window.partitionBy("lang")
        s = hist.select(
            "lang", val_col,
            F.sum("c").over(w).alias("cum"), F.sum("c").over(wt).alias("tot"),
        )
        target = F.expr("(tot * 50 + 99) div 100")
        return s.groupBy("lang").agg(
            F.min(F.when(F.col("cum") >= target, F.col(val_col)))
            .cast("long")
            .alias("p50")
        )

    med = _p50(d, "n_chars").withColumnRenamed("p50", "med")
    dev = d.join(F.broadcast(med), "lang").select(
        "lang", F.abs(F.col("n_chars") - F.col("med")).alias("dev")
    )
    mad = _p50(dev, "dev").withColumnRenamed("p50", "mad")
    stats = med.join(mad, "lang")
    return d.join(F.broadcast(stats), "lang").select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        "med",
        "mad",
        (F.abs(F.col("n_chars") - F.col("med")) > F.lit(_OUT_K) * F.col("mad")).alias(
            "is_outlier"
        ),
    )


QUERIES["corpus_length_outliers"] = q_corpus_length_outliers

ORACLES["corpus_length_outliers"] = f"""
WITH hist AS (
  SELECT lang, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
),
s AS (
  SELECT lang, n_chars,
         sum(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
         sum(c) OVER (PARTITION BY lang) AS tot
  FROM hist
),
med AS (
  SELECT lang, CAST(min(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN n_chars END) AS BIGINT) AS med
  FROM s GROUP BY lang
),
devh AS (
  SELECT d.lang, abs(d.n_chars - m.med) AS dev, count(*) AS c
  FROM documents d JOIN med m USING (lang) GROUP BY 1, 2
),
s2 AS (
  SELECT lang, dev,
         sum(c) OVER (PARTITION BY lang ORDER BY dev) AS cum,
         sum(c) OVER (PARTITION BY lang) AS tot
  FROM devh
),
mad AS (
  SELECT lang, CAST(min(CASE WHEN cum >= (tot * 50 + 99) // 100 THEN dev END) AS BIGINT) AS mad
  FROM s2 GROUP BY lang
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars, m.med, a.mad,
       (abs(d.n_chars - m.med) > {_OUT_K} * a.mad) AS is_outlier
FROM documents d JOIN med m USING (lang) JOIN mad a USING (lang)
"""
