"""Multimodal-column plumbing: binary payloads + typed metadata via
Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the *decode* step is a
deterministic stub (see ``operators/media.py``): the Spark-side plumbing —
binary column handling, mapInPandas batch shape, output schema, metadata
extraction — is real and driver-verified. The oracle reproduces the byte
length, sha256, and the stub's modular "dimensions" in SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from levenshtein_spark.session import scoped_persist
from levenshtein_spark.driver_queries import tbl
from levenshtein_spark.operators.media import extract_media_meta


def q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """documents.text encoded to a binary payload column → mapInPandas
    metadata extraction (n_bytes, sha256, stub width/height)."""
    d = tbl(spark, sf, "documents")
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return extract_media_meta(payloads, id_col="doc_id", payload_col="payload")


_FRAME_BYTES = 256
_EVERY = 4


def q_multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Binary payloads as frame sequences: every 4th 256-byte frame, with
    per-frame length + sha256 — pure JVM substring/sha2 over the binary
    column (operators/media.sample_frames), no Python in the plan."""
    from levenshtein_spark.operators.media import sample_frames

    d = tbl(spark, sf, "documents")
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return sample_frames(
        payloads, id_col="doc_id", payload_col="payload",
        frame_bytes=_FRAME_BYTES, every=_EVERY,
    )


# Real-decode track: payloads are REAL binary PPM (P6) images, synthesized
# deterministically from the documents table (dims from the text's byte
# length, raster from a doc_id-seeded formula), then decoded by the pure-
# NumPy codec in operators/ppm.py — no stub anywhere on this path. The
# raster formula is closed-form, so the DuckDB twin re-derives dimensions
# and exact per-channel sums from (doc_id, strlen) alone.
_PPM_W = (4, 13)  # w = 4 + L % 13
_PPM_H = (3, 7)  # h = 3 + (L * 5) % 7


def _ppm_payloads(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, payload) where payload is a valid P6 image:
    pixel byte i = (doc_id*31 + i*7) % 256 over a w*h*3 raster."""
    import numpy as np
    import pandas as pd

    from levenshtein_spark.operators.ppm import encode_ppm

    def run(batches):
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                L = len(str(text).encode("utf-8"))
                w = _PPM_W[0] + L % _PPM_W[1]
                h = _PPM_H[0] + (L * 5) % _PPM_H[1]
                i = np.arange(w * h * 3, dtype=np.int64)
                px = ((int(doc_id) * 31 + i * 7) % 256).astype(np.uint8)
                payloads.append(encode_ppm(px.reshape(h, w, 3)))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    return d.mapInPandas(run, "doc_id long, payload binary")


def q_multimodal_decode_ppm(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode + feature extraction: synthesize P6 payloads, then
    ``operators/media.extract_image_features`` parses the actual image bytes
    (header grammar, raster reshape) and aggregates exact int64 channel sums
    → one double divide per mean, bit-reproducible in the SQL twin."""
    from levenshtein_spark.operators.media import extract_image_features

    d = tbl(spark, sf, "documents").select("doc_id", "text")
    return extract_image_features(_ppm_payloads(d))


# Audio leg: payloads are REAL RIFF/WAVE PCM files (operators/wav.py).
# Stream parameters vary per doc; the raster formula is closed-form so the
# twin re-derives exact integer energy sums from (doc_id, strlen) alone.
_WAV_NS = (200, 57)  # n_samples = 200 + L % 57
_WAV_RATES = (8000, 4000, 3)  # rate = 8000 + 4000 * (doc_id % 3)


def _wav_payloads(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, payload): 16-bit PCM WAV, 1 or 2 channels,
    sample value at flat index i = ((doc_id*13 + i*11) % 65536) - 32768."""
    import numpy as np
    import pandas as pd

    from levenshtein_spark.operators.wav import encode_wav

    def run(batches):
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                L = len(str(text).encode("utf-8"))
                n = _WAV_NS[0] + L % _WAV_NS[1]
                ch = 1 + doc_id % 2
                rate = _WAV_RATES[0] + _WAV_RATES[1] * (doc_id % _WAV_RATES[2])
                i = np.arange(n * ch, dtype=np.int64)
                v = ((doc_id * 13 + i * 11) % 65536) - 32768
                payloads.append(encode_wav(v.astype(np.int16).reshape(n, ch), rate))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    return d.mapInPandas(run, "doc_id long, payload binary")


def q_multimodal_decode_wav(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode: parse the RIFF chunk list of actual WAV bytes →
    stream parameters + energy stats (rms = sqrt(sum_sq/n), mean_abs =
    sum_abs/n — correctly-rounded IEEE ops over exact int64 sums, so the
    SQL twin reproduces the doubles bit-for-bit)."""
    from levenshtein_spark.operators.media import extract_audio_features

    d = tbl(spark, sf, "documents").select("doc_id", "text")
    return extract_audio_features(_wav_payloads(d))


# Image near-dup: average hash (aHash) over the REAL decode path. Grid is
# 8×7 = 56 bits so the fingerprint stays a non-negative int64 (same framing
# as the 60-bit SimHash); the standard 8×8 variant would need bit 63.
_AH_W, _AH_H = 8, 7
_AH_HAM = 6  # pigeonhole: 7 segments of 8 bits → lossless for hamming ≤ 6


def _ahash_table(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (id, ahash): synthesize the P6 payload, then compute
    the perceptual average hash from the ACTUAL image bytes — decode_ppm
    parses the header grammar + raster, resize_nearest downsamples to the
    8×7 grid, and the hash is pure integer arithmetic (gray = (r+g+b)//3,
    bit_j = gray_j·56 ≥ Σgray — a cross-multiplication, no float mean), so
    the SQL twin reproduces it exactly from the closed-form raster."""
    import numpy as np
    import pandas as pd

    from levenshtein_spark.operators.ppm import decode_ppm, resize_nearest

    payloads = _ppm_payloads(d)

    def run(batches):
        for pdf in batches:
            hashes = []
            for payload in pdf["payload"]:
                px = decode_ppm(bytes(payload))
                small = resize_nearest(px, _AH_W, _AH_H)
                gray = small.astype(np.int64).sum(axis=2) // 3  # (h, w)
                flat = gray.reshape(-1)  # row-major: j = y*W + x
                bits = flat * (_AH_W * _AH_H) >= flat.sum()
                hashes.append(int((bits.astype(np.int64) << np.arange(56)).sum()))
            yield pd.DataFrame(
                {"id": pdf["doc_id"].astype("int64"), "ahash": pd.Series(hashes, dtype="int64")}
            )

    return payloads.mapInPandas(run, "id long, ahash long")


def q_dedup_image_ahash(spark: SparkSession, sf: str) -> DataFrame:
    """Image near-duplicate pairs: aHash Hamming ≤ {_AH_HAM} over real
    decoded rasters, found via the same lossless Hamming-segment pigeonhole
    + salted slim-pair machinery as the text SimHash track (a pair within
    Hamming 6 of a 7-segment split agrees exactly on ≥ 1 segment). The
    oracle is BRUTE FORCE over the closed-form raster, so the hash match
    simultaneously certifies the codec path, the hash arithmetic, and the
    blocking's losslessness."""
    from levenshtein_spark.functions.hashing import hamming64, simhash_segment_keys
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs

    d = tbl(spark, sf, "documents").select("doc_id", "text")
    ah = _ahash_table(d).transform(scoped_persist)
    blocks = ah.select(
        F.explode(simhash_segment_keys("ahash", _AH_W * _AH_H, _AH_HAM + 1, 1)).alias(
            "block_key"
        ),
        "id",
    )
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    fat = attach_pair_payload(pairs, ah, ["ahash"])
    return fat.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        hamming64(F.col("ahash_a"), F.col("ahash_b")).cast("long").alias("hamming"),
    ).where(F.col("hamming") <= _AH_HAM)


# Audio near-dup: 56-bit energy-profile fingerprint over the REAL WAV
# decode path. The payload generator adds an amplitude envelope
# (1 + (doc_id + i//8) % 7 over a ±4096 carrier) because a flat synthetic
# sawtooth has equal per-segment energy everywhere — every fingerprint
# collapses to one value (measured: 1 distinct fp over 500 docs); the
# envelope gives each doc a real energy profile (486 distinct).
_AF_SEG = 56
_AF_HAM = 6


def _wav_am_payloads(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, payload): amplitude-modulated 16-bit PCM,
    flat sample i = (((doc_id·13 + 11i) % 8192) − 4096) · (1 + (doc_id + i//8) % 7)
    (|v| ≤ 28672 < 2^15), dims/rate as in :func:`_wav_payloads`."""
    import numpy as np
    import pandas as pd

    from levenshtein_spark.operators.wav import encode_wav

    def run(batches):
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                doc_id = int(doc_id)
                L = len(str(text).encode("utf-8"))
                n = _WAV_NS[0] + L % _WAV_NS[1]
                ch = 1 + doc_id % 2
                rate = _WAV_RATES[0] + _WAV_RATES[1] * (doc_id % _WAV_RATES[2])
                i = np.arange(n * ch, dtype=np.int64)
                v = (((doc_id * 13 + i * 11) % 8192) - 4096) * (1 + (doc_id + i // 8) % 7)
                payloads.append(encode_wav(v.astype(np.int16).reshape(n, ch), rate))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    return d.mapInPandas(run, "doc_id long, payload binary")


def _audio_fp_table(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (id, afp): decode the ACTUAL RIFF bytes, split the
    flat sample stream into {_AF_SEG} index segments (seg(i) = i·S // T, the
    same rule in both engines), and threshold each segment's exact |v| sum
    against the length-weighted mean by integer cross-multiplication
    (energy_j · T ≥ total · len_j — no float mean)."""
    import numpy as np
    import pandas as pd

    from levenshtein_spark.operators.wav import decode_wav

    payloads = _wav_am_payloads(d)

    def run(batches):
        for pdf in batches:
            fps = []
            for payload in pdf["payload"]:
                samples, _rate = decode_wav(bytes(payload))
                v = samples.astype(np.int64).reshape(-1)  # row-major flat stream
                t = v.shape[0]
                seg = np.arange(t, dtype=np.int64) * _AF_SEG // t
                e = np.bincount(seg, weights=np.abs(v), minlength=_AF_SEG).astype(np.int64)
                ln = np.bincount(seg, minlength=_AF_SEG).astype(np.int64)
                tot = int(np.abs(v).sum())
                bits = (e * t) >= (tot * ln)
                fps.append(int((bits.astype(np.int64) << np.arange(_AF_SEG)).sum()))
            yield pd.DataFrame(
                {"id": pdf["doc_id"].astype("int64"), "afp": pd.Series(fps, dtype="int64")}
            )

    return payloads.mapInPandas(run, "id long, afp long")


def q_dedup_audio_fp(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-duplicate pairs: energy-profile fingerprints within
    Hamming {_AF_HAM}, via the same lossless 7-segment pigeonhole + salted
    slim pairs as the image/text tracks; the brute-force closed-form oracle
    certifies the RIFF decode, the segment/threshold arithmetic, and the
    blocking losslessness in one hash match."""
    from levenshtein_spark.functions.hashing import hamming64, simhash_segment_keys
    from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs

    d = tbl(spark, sf, "documents").select("doc_id", "text")
    fp = _audio_fp_table(d).transform(scoped_persist)
    blocks = fp.select(
        F.explode(simhash_segment_keys("afp", _AF_SEG, _AF_HAM + 1, 1)).alias("block_key"),
        "id",
    )
    pairs = candidate_pairs(blocks, hot_threshold=500).drop("n_keys")
    fat = attach_pair_payload(pairs, fp, ["afp"])
    return fat.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        hamming64(F.col("afp_a"), F.col("afp_b")).cast("long").alias("hamming"),
    ).where(F.col("hamming") <= _AF_HAM)


QUERIES = {
    "multimodal_meta": q_multimodal_meta,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_decode_ppm": q_multimodal_decode_ppm,
    "multimodal_decode_wav": q_multimodal_decode_wav,
    "dedup_image_ahash": q_dedup_image_ahash,
    "dedup_audio_fp": q_dedup_audio_fp,
}

ORACLES = {
    "multimodal_meta": """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       sha256(text) AS sha,
       CAST(strlen(text) % 640 AS BIGINT) AS width,
       CAST((strlen(text) * 7) % 480 AS BIGINT) AS height
FROM documents
""",
    "multimodal_frame_sample": f"""
SELECT d.doc_id,
       CAST(t.i AS BIGINT) AS frame_idx,
       CAST(strlen(substr(d.text, CAST(t.i AS BIGINT) * {_FRAME_BYTES} + 1, {_FRAME_BYTES})) AS BIGINT)
         AS frame_len,
       sha256(substr(d.text, CAST(t.i AS BIGINT) * {_FRAME_BYTES} + 1, {_FRAME_BYTES})) AS frame_sha
FROM documents d,
     UNNEST(range(0, CAST(ceil(strlen(d.text) / {_FRAME_BYTES}.0) AS BIGINT), {_EVERY})) AS t(i)
""",
    # dimensions and raster are closed-form in (doc_id, strlen), so the twin
    # re-derives exact integer channel sums and the same single-divide means
    "multimodal_decode_ppm": f"""
WITH dims AS (
  SELECT doc_id,
         {_PPM_W[0]} + (strlen(text) % {_PPM_W[1]}) AS w,
         {_PPM_H[0]} + ((strlen(text) * 5) % {_PPM_H[1]}) AS h
  FROM documents
),
px AS (
  SELECT d.doc_id, d.w, d.h, t.i AS i,
         (d.doc_id * 31 + t.i * 7) % 256 AS v
  FROM dims d, UNNEST(range(0, CAST(d.w * d.h * 3 AS BIGINT))) AS t(i)
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(sum(CASE WHEN i % 3 = 0 THEN v END) AS DOUBLE) / (w * h) AS mean_r,
       CAST(sum(CASE WHEN i % 3 = 1 THEN v END) AS DOUBLE) / (w * h) AS mean_g,
       CAST(sum(CASE WHEN i % 3 = 2 THEN v END) AS DOUBLE) / (w * h) AS mean_b
FROM px
GROUP BY doc_id, w, h
""",
    # sums are exact integers well under 2^53, so CAST-to-double is exact and
    # each divide/sqrt is one correctly-rounded op — bit-equal to the Python
    # int/int true division + math.sqrt in extract_audio_features
    "multimodal_decode_wav": f"""
WITH dims AS (
  SELECT doc_id,
         {_WAV_NS[0]} + (strlen(text) % {_WAV_NS[1]}) AS n,
         1 + (doc_id % 2) AS ch,
         {_WAV_RATES[0]} + {_WAV_RATES[1]} * (doc_id % {_WAV_RATES[2]}) AS rate
  FROM documents
),
sv AS (
  SELECT d.doc_id, d.n, d.ch, d.rate,
         ((d.doc_id * 13 + t.i * 11) % 65536) - 32768 AS v
  FROM dims d, UNNEST(range(0, CAST(d.n * d.ch AS BIGINT))) AS t(i)
)
SELECT doc_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(ch AS BIGINT) AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n AS DOUBLE) / rate AS duration_s,
       sqrt(CAST(sum(v * v) AS DOUBLE) / (n * ch)) AS rms,
       CAST(sum(abs(v)) AS DOUBLE) / (n * ch) AS mean_abs
FROM sv
GROUP BY doc_id, n, ch, rate
""",
    # brute force over the closed-form raster: nearest-neighbor source cell
    # for dst (x, y) is (⌊x·w/8⌋, ⌊y·h/7⌋); pixel byte at flat index i is
    # (doc_id·31 + 7i) % 256; gray = (r+g+b)//3; bit rule is the integer
    # cross-multiplication g·56 ≥ Σg. All-pairs join then re-proves the
    # Spark side's pigeonhole blocking lossless for hamming ≤ 6.
    # rebuilt below from _IC_HASHES — ONE shared raster/hash CTE body for
    # the pair-level and canonical-level twins of this modality
    "dedup_image_ahash": "",

    # brute force over the closed-form AM sample stream: flat sample i of T
    # = n·ch is (((doc_id·13 + 11i) % 8192) − 4096) · (1 + (doc_id + i//8) % 7);
    # segment = i·56 // T; bit = energy·T >= total·len (integer cross-mult)
    # rebuilt below from _AC_FPS (same sharing for the audio modality)
    "dedup_audio_fp": "",

}


# ---------------------------------------------------------------------------
# Image near-dup COLLAPSE (the dedup_canonical step for the image track)
# ---------------------------------------------------------------------------
def q_dedup_image_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """One canonical doc_id per image near-duplicate component: the aHash
    Hamming ≤ {ham} pairs (real decoded rasters, lossless pigeonhole
    blocking) become edges, components come from the same star-contraction
    closure as every other collapse here, the canonical is the component
    minimum, singletons label themselves — `dedup_canonical` for the image
    modality, showing the graph stage composes across modalities unchanged.

    The twin recomputes rasters, hashes, the Hamming ball, AND the closure
    (recursive CTE), so one hash match certifies codec, hash arithmetic,
    blocking losslessness, and the distributed component labels together.
    """
    from levenshtein_spark.operators.clustering import cluster_labels

    edges = q_dedup_image_ahash(spark, sf).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    ids = tbl(spark, sf, "documents").select(F.col("doc_id").alias("id"))
    return cluster_labels(ids, edges).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("canonical_id"),
    )


QUERIES["dedup_image_canonical"] = q_dedup_image_canonical

_IC_HASHES = f"""
dims AS (
  SELECT doc_id,
         {_PPM_W[0]} + (strlen(text) % {_PPM_W[1]}) AS w,
         {_PPM_H[0]} + ((strlen(text) * 5) % {_PPM_H[1]}) AS h
  FROM documents
),
cells AS (
  SELECT d.doc_id, t.j,
         (((t.j // {_AH_W}) * d.h) // {_AH_H}) * d.w + (((t.j % {_AH_W}) * d.w) // {_AH_W}) AS p
  FROM dims d, UNNEST(range(0, {_AH_W * _AH_H})) AS t(j)
),
gray AS (
  SELECT doc_id, j,
         ( ((doc_id * 31 + 7 * (p * 3    )) % 256)
         + ((doc_id * 31 + 7 * (p * 3 + 1)) % 256)
         + ((doc_id * 31 + 7 * (p * 3 + 2)) % 256) ) // 3 AS g
  FROM cells
),
tot AS (SELECT doc_id, sum(g) AS sg FROM gray GROUP BY doc_id),
hashes AS (
  SELECT g.doc_id,
         CAST(sum(CASE WHEN g.g * {_AH_W * _AH_H} >= t.sg
                       THEN (CAST(1 AS BIGINT) << g.j) ELSE 0 END) AS BIGINT) AS ahash
  FROM gray g JOIN tot t USING (doc_id)
  GROUP BY g.doc_id
)"""

# for dst (x, y) is (⌊x·w/8⌋, ⌊y·h/7⌋); pixel byte at flat index i is
# (doc_id·31 + 7i) % 256; gray = (r+g+b)//3; bit rule is the integer
# cross-multiplication g·56 ≥ Σg. All-pairs join then re-proves the
# Spark side's pigeonhole blocking lossless for hamming ≤ 6.
ORACLES["dedup_image_ahash"] = f"""
WITH {_IC_HASHES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.ahash, b.ahash)) <= {_AH_HAM}
"""

ORACLES["dedup_image_canonical"] = f"""
WITH RECURSIVE {_IC_HASHES},
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.ahash, b.ahash)) <= {_AH_HAM}
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


# ---------------------------------------------------------------------------
# Audio near-dup COLLAPSE (same composition for the audio modality)
# ---------------------------------------------------------------------------
def q_dedup_audio_canonical(spark: SparkSession, sf: str) -> DataFrame:
    """One canonical doc_id per audio near-duplicate component — the
    fingerprint Hamming ≤ {ham} pairs (real RIFF/PCM decode, lossless
    pigeonhole blocking) through the shared star-contraction closure. With
    `dedup_canonical` (text) and `dedup_image_canonical`, this completes
    the pattern: ONE graph stage serves every modality; only the edge
    generator changes."""
    from levenshtein_spark.operators.clustering import cluster_labels

    edges = q_dedup_audio_fp(spark, sf).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    ids = tbl(spark, sf, "documents").select(F.col("doc_id").alias("id"))
    return cluster_labels(ids, edges).select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("canonical_id"),
    )


QUERIES["dedup_audio_canonical"] = q_dedup_audio_canonical

_AC_FPS = f"""
dims AS (
  SELECT doc_id,
         ({_WAV_NS[0]} + (strlen(text) % {_WAV_NS[1]})) * (1 + (doc_id % 2)) AS t
  FROM documents
),
sv AS (
  SELECT d.doc_id, d.t, (s.i * {_AF_SEG}) // d.t AS seg,
         abs((((d.doc_id * 13 + s.i * 11) % 8192) - 4096)
             * (1 + (d.doc_id + s.i // 8) % 7)) AS av
  FROM dims d, UNNEST(range(0, d.t)) AS s(i)
),
segs AS (
  SELECT doc_id, t, seg, sum(av) AS e, count(*) AS ln
  FROM sv GROUP BY doc_id, t, seg
),
tots AS (SELECT doc_id, sum(av) AS tot FROM sv GROUP BY doc_id),
fps AS (
  SELECT s.doc_id,
         CAST(sum(CASE WHEN s.e * s.t >= tt.tot * s.ln
                       THEN (CAST(1 AS BIGINT) << s.seg) ELSE 0 END) AS BIGINT) AS afp
  FROM segs s JOIN tots tt USING (doc_id)
  GROUP BY s.doc_id
)"""

# brute force over the closed-form AM sample stream: flat sample i of T
# = n·ch is (((doc_id·13 + 11i) % 8192) − 4096) · (1 + (doc_id + i//8) % 7);
# segment = i·56 // T; bit = energy·T >= total·len (integer cross-mult)
ORACLES["dedup_audio_fp"] = f"""
WITH {_AC_FPS}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= {_AF_HAM}
"""

ORACLES["dedup_audio_canonical"] = f"""
WITH RECURSIVE {_AC_FPS},
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM fps a JOIN fps b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.afp, b.afp)) <= {_AF_HAM}
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
