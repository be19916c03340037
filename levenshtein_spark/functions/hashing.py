"""Portable hashing / fingerprinting column functions.

Two tiers:

* **Portable** (md5-derived): bit-for-bit reproducible in DuckDB SQL, so every
  operator built on them can carry an exact oracle in ``__spark_entry__.py``.
  Spark ``conv(substr(md5(x),1,15),16,10)::long`` equals DuckDB
  ``('0x'||substr(md5(x),1,15))::BIGINT`` (60-bit non-negative).
* **Fast** (xxhash64 / hash): JVM-internal, used where no oracle is needed
  (salting, shuffle keys).

MinHash here is deliberately hand-rolled from column expressions — not
MLlib's MinHashLSH — to keep the shuffle layout explicit and the math
portable to the SQL oracle (SURVEY.md §2.4 blocking).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash64(col, seed: int = 0) -> Column:
    """Portable 60-bit hash: md5-prefix as BIGINT; seed is mixed in as text."""
    payload = F.concat(F.lit(f"{seed}\x1f"), _c(col)) if seed else _c(col)
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def hash_bucket(col, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets): the split-assignment primitive
    (a train/val/test split must be a pure function of the record id,
    reproducible in the SQL oracle — never ``rand()``). Portable md5 family
    over the id's decimal string."""
    return F.pmod(hash64(_c(col).cast("string")), F.lit(buckets))


def sha256_hex(col) -> Column:
    """Content fingerprint — the per-row invariant column (input_hint)."""
    return F.sha2(_c(col).cast("string"), 256)


# MinHash slot family: DOUBLE HASHING. Two md5-derived base hashes per gram
# (markers 'mh0'/'mh1'), slots are the affine combination
#   slot_i = (h1m + i * h2o) mod 2^31,  h1m = h1 mod 2^31,
#   h2o = (h2 mod 2^31) | 1   (odd => nonzero stride, no degenerate gram)
# — the Kirsch–Mitzenmacher construction: k independent-enough hash
# functions from two real ones. Cuts the per-gram md5 cost from num_hashes
# to TWO, which at corpus scale is most of the LSH stage's CPU. 31-bit
# slot values keep i * h2o inside a signed 64-bit long for any sane i.
_MH_MOD = 1 << 31


def _mh_base(gram: Column) -> tuple[Column, Column]:
    def md5c(prefix: str) -> Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix + "\x1f"), gram)), 1, 15), 16, 10
        ).cast("long")

    h1m = F.pmod(md5c("mh0"), F.lit(_MH_MOD))
    h2o = F.pmod(md5c("mh1"), F.lit(_MH_MOD)).bitwiseOR(F.lit(1))
    return h1m, h2o


def minhash_signature(tokens, num_hashes: int = 8) -> Column:
    """MinHash signature (array<long>) over an array<string> column.

    Double-hashing family (see ``_mh_base``): per token, base hashes are
    materialized ONCE into a struct array; each slot is then arithmetic
    over that array. Estimates Jaccard similarity of token sets; the
    set-level analogue of the reference's per-pair early exits (cheap
    necessary condition before the DP). Bit-identical to
    ``minhash_band_table``'s flat form and to the DuckDB oracle twins.
    """
    t = _c(tokens)
    # materialized struct array: CollapseProject keeps a non-cheap expr
    # referenced by every slot from being re-inlined per slot
    hs = F.transform(t, lambda x: F.struct(*(
        c.alias(n) for c, n in zip(_mh_base(x), ("a", "b"))
    )))
    def slot(i: int):
        # NB: a 2-arg lambda would be treated as transform's (element, index)
        # form and silently shadow the closed-over slot number
        return lambda s: F.pmod(s["a"] + F.lit(i) * s["b"], F.lit(_MH_MOD))

    sig = [F.array_min(F.transform(hs, slot(i))) for i in range(num_hashes)]
    return F.array(*sig)


def minhash_band_keys(signature, bands: int, rows_per_band: int) -> Column:
    """LSH band keys (array<string>) from a MinHash signature.

    Pairs sharing ANY band key become candidates (standard banding: collision
    probability 1-(1-s^r)^b for Jaccard s).
    """
    sig = _c(signature)
    keys = []
    for bnd in range(bands):
        part = F.slice(sig, bnd * rows_per_band + 1, rows_per_band)
        keys.append(
            F.concat(F.lit(f"b{bnd}:"), F.md5(F.concat_ws("_", F.transform(part, lambda x: x.cast("string")))))
        )
    return F.array(*keys)


def minhash_band_table(
    df, id_col: str, grams, num_hashes: int = 8, bands: int = 4
) -> "DataFrame":  # noqa: F821
    """(id, band_key) rows — the same math as ``minhash_signature`` +
    ``minhash_band_keys``, reformulated for whole-stage codegen: explode the
    grams, compute the TWO base hashes once per occurrence (double-hashing
    family, see ``_mh_base``), derive every slot by affine arithmetic, take
    the per-slot min with ONE map-side-combining groupBy, then emit the band
    keys. The array-expression form nests higher-order functions
    (interpreted, not codegen) and Catalyst re-inlines the signature into
    every band key — ~50x slower, and it materializes the per-doc gram array
    inside an expression, which the flat form never does.

    Portable (md5 family): bit-identical to the DuckDB oracle twin used by
    the dedup_minhash driver query.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows = num_hashes // bands
    g = df.select(F.col(id_col).alias("id"), F.explode_outer(_c(grams)).alias("g"))
    h1m, h2o = _mh_base(F.col("g"))
    base = g.select("id", h1m.alias("_a"), h2o.alias("_b"))
    hashed = base.select(
        "id",
        *[
            F.pmod(F.col("_a") + i * F.col("_b"), F.lit(_MH_MOD)).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sig = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    keys = []
    for b in range(bands):
        part = [F.col(f"h{b * rows + r}").cast("string") for r in range(rows)]
        keys.append(F.concat(F.lit(f"b{b}:"), F.md5(F.concat_ws("_", *part))))
    return sig.select("id", F.explode(F.array(*keys)).alias("band_key"))


def simhash64(tokens) -> Column:
    """64-bit SimHash (as long) over an array<string> column.

    For each of 64 bit positions, sum +1/-1 weighted by each token hash's bit,
    then take the sign. Near-duplicate texts differ in few bits (Hamming).
    Pure column expressions (aggregate over the token array) — JVM-side.
    """
    t = _c(tokens)
    h = F.transform(t, lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long"))
    bits = []
    for bit in range(60):  # 60 usable bits from the md5-prefix hash
        votes = F.aggregate(
            h,
            F.lit(0).cast("long"),
            lambda acc, v: acc + F.when(v.bitwiseAND(F.lit(1 << bit)) != 0, 1).otherwise(-1),
        )
        bits.append(F.when(votes > 0, F.lit(1 << bit)).otherwise(F.lit(0)).cast("long"))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def hamming64(a, b) -> Column:
    """Hamming distance between two long columns (bit_count of xor)."""
    return F.bit_count(_c(a).bitwiseXOR(_c(b)))


def simhash_table(df, id_col: str, tokens) -> "DataFrame":  # noqa: F821
    """(id, simhash) rows — same math as ``simhash64`` reformulated for
    whole-stage codegen: explode tokens, hash each ONCE with a plain md5
    column, sum the 60 per-bit +1/-1 votes with a map-side-combining
    groupBy. The expression form re-inlines the token-hash transform into
    each of the 60 interpreted ``aggregate`` calls (60x the md5 work, no
    codegen). Bit votes are integer sums, so aggregation order can't change
    the result — unlike the float LSH projections, which stay sequential.

    Trade-off: the 60-aggregate stage costs a one-time ~10s janino compile
    per session (cached afterwards); warm it is ~1.7x the expression form on
    500 docs and the gap widens with corpus size (compile amortizes, md5
    work is 1/60th).
    """
    g = df.select(F.col(id_col).alias("id"), F.explode_outer(_c(tokens)).alias("t"))
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    hashed = g.select("id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.col("h").isNull(), 0)
            .when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(60)
    ]
    agg = hashed.groupBy("id").agg(*votes)
    out = F.lit(0).cast("long")
    for b in range(60):
        out = out + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
    return agg.select("id", out.alias("simhash"))


def simhash_segment_keys(
    fingerprint, n_bits: int = 60, segments: int = 9, choose: int = 1
) -> Column:
    """Pigeonhole block keys (array<string>) for Hamming-ball search over a
    SimHash fingerprint column.

    Split the ``n_bits`` fingerprint into ``segments`` contiguous segments;
    each key is the concatenated value of ``choose`` of them. If two
    fingerprints differ in at most ``segments - choose`` bits, those bits
    touch at most ``segments - choose`` segments, so some ``choose``-subset
    of segments is identical on both sides — the pair shares at least one
    key. Blocking on these keys is therefore **lossless** for
    ``hamming <= segments - choose`` (the set-level analogue of the
    reference's length-difference pre-exit, src/prealgorithm.h:77-86,
    generalized from positions to bit segments).

    Scale knob: ``choose=1`` gives ``segments`` tables of ~``n_bits/segments``
    -bit keys (bucket size ~N/2^7 at the defaults — fine to ~10^6 rows);
    larger corpora raise ``choose`` (Manku et al., WWW'07): ``(10, 2)`` →
    45 tables of ~12-bit keys, ``(11, 3)`` → 165 tables of ~16-bit keys,
    still lossless for hamming <= 8. Residual hot buckets (mass-duplicated
    fingerprints) are handled downstream by ``candidate_pairs`` salting.
    """
    if choose < 1 or choose > segments:
        raise ValueError("choose must be in [1, segments]")
    from itertools import combinations

    fp = _c(fingerprint)
    base, extra = divmod(n_bits, segments)
    widths = [base + (1 if i < extra else 0) for i in range(segments)]
    offs = [sum(widths[:i]) for i in range(segments)]
    seg_vals = [
        F.shiftright(fp, offs[i]).bitwiseAND(F.lit((1 << widths[i]) - 1)).cast("string")
        for i in range(segments)
    ]
    keys = []
    for combo in combinations(range(segments), choose):
        idx = ".".join(str(i) for i in combo)
        vals = [seg_vals[i] for i in combo]
        keys.append(F.concat_ws("|", F.lit(f"shseg{idx}"), *vals))
    return F.array(*keys)
