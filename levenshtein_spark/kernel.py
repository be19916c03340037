"""Vectorized banded OSA / Levenshtein kernel (NumPy, no Spark imports).

This is the heart of the engine: a batch-vectorized re-expression of the
reference's two-row banded DP (rljacobson/Levenshtein,
``src/bounded_edit_dist_t.cpp:102-285``). Instead of one pair at a time in a
single thread, we advance the DP for a whole Arrow batch of pairs in lockstep:
one NumPy "band matrix" of shape (batch, 2K+1) per DP row, where K is the
largest effective cap in the batch. The per-row left-neighbour dependency
(``D[i][j-1] + 1``) — which makes the classic inner loop sequential — is
resolved with a min-plus prefix scan::

    D[i][j] = min_{t <= j} ( cand[t] + (j - t) )
            = arange(j) + cummin( cand - arange )

so every DP row costs O(1) NumPy ops over the (batch, band) plane.

Reference semantics reproduced exactly (see SURVEY.md §2.2, each pinned by
tests/test_kernel_vectors.py):

* OSA (restricted Damerau–Levenshtein): transposition drawn from
  ``dp[i-2][j-2] + cost`` where ``cost`` is the substitution cost of the
  *current* pair (``src/edit_dist_t_2d.cpp:110-121``). ``OSA("CA","ABC")==3``.
* Distances are over UTF-8 **bytes**, case-sensitive (``ReadMe.md:50-53``).
* NULL argument → return ``max(len(a), len(b))`` directly, treating NULL as
  length 0 and bypassing the cap (``src/prealgorithm.h:17-23``).
* Empty shorter string → return the longer length directly, *before* the cap
  check (``src/prealgorithm.h:69-75``) — so ``bounded("", "abcdefg", 3) == 7``.
* Effective cap ``k_eff = min(k, max(len(a), len(b)))``
  (``src/bounded_edit_dist_t.cpp:113`` + ``src/validate_max.h:19``).
* Length-difference early exit: ``|len(a)-len(b)| > k_eff`` → ``k_eff + 1``
  (``src/prealgorithm.h:77-86``).
* Bounded convention: distance provably > k_eff → return exactly ``k_eff + 1``
  (``src/bounded_edit_dist_t.cpp:284``: ``return min(max+1, current_cell)``).
* Similarity = ``max(0, 1 - dist/m)`` with ``m = max(len(a), len(b))``, floored
  at ``max(0, 1 - (k_eff+1)/m)``, with cap derived as
  ``k = int((1-p) * m)`` (``src/similarity_t.cpp:56-58,118,141-142,284-290``).

Deliberate, documented deviations (SURVEY.md §2.2 item 9):

* No 4096-byte working-buffer cap, hence no silent ``return 0`` on overflow
  (``src/edit_dist_t.cpp:115-121``); callers normalize with an explicit
  content-prefix column instead.
* ``similarity_batch`` keeps the distance→similarity formula for NULL/empty
  inputs rather than reproducing the C library's accidental
  "return a raw distance as a double" behaviour on those exits.

Inputs: ``a`` and ``b`` are Arrow arrays — ``string``, ``large_string``,
``binary`` or ``large_binary``, sliced or not, with NULLs, or of the
``pa.null()`` type an untyped SQL ``NULL`` arrives as. The kernel reads their
buffers directly: lengths come from the offsets, NULLs from the validity
bitmap, identity from ``pc.equal``; the prefix/suffix trim and the histogram
screen index into the value buffer, and only the pairs that reach the DP are
gathered into padded matrices. A Python sequence (list of str/bytes/None, a
pandas Series) is converted to Arrow once at the entry (``_as_arrow``) and
then takes the same path.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

Strings = Union[pa.Array, pa.ChunkedArray, Sequence[Union[str, bytes, None]]]
Caps = Union[None, int, Sequence[Optional[int]], np.ndarray, pa.Array]

# Large-but-safe sentinels: arithmetic adds at most +1 per DP row and string
# lengths are clamped well below these, so INF never overflows its dtype.
_INF = np.int32(1 << 20)
_INF16 = np.int16(1 << 14)

# Cap on cells per chunk: bounds peak memory at ~3 band matrices x 4 bytes.
_CHUNK_CELL_BUDGET = 1 << 22

# Wide-cap runs start at this band and escalate 4x per round (iterative
# doubling); caps at or below run in a single pass.
_DOUBLING_START = 16

# Pairs per counting-bound histogram chunk: bounds the per-chunk bincount
# table (2 x rows x 64 int64 = 8 MB at 2^13). The bytes are gathered from
# the value buffer by index (no padded matrices), and a chunk past its first
# pair holds at most _HIST_BYTES_CHUNK bytes, so the int64 index vectors
# (~8 bytes per input byte) stay bounded for long strings too.
_HIST_PAIRS_CHUNK = 1 << 13
_HIST_BYTES_CHUNK = 1 << 20

# ---------------------------------------------------------------------------
# Optional instrumentation (analogue of the reference's CAPTURE_METRICS
# counters, tests/metrics.hpp:8-17): cells computed, early exits by kind,
# counting-bound kills, trim collapses, doubling rounds. Off by default —
# the counters cost a few scalar ops per *batch* (plus one O(rows) sum per
# DP row for dp_cells), and are enabled only by benchmarks/tests that want
# to MEASURE claims like "the counting bound kills most DPs".
# ---------------------------------------------------------------------------
_STATS_ON = False
STATS: dict = {}


def _stats_zero() -> dict:
    return {
        "pairs": 0,  # pairs entering the kernel
        "exit_null": 0,  # NULL argument pre-exit
        "exit_empty": 0,  # empty-shorter-string pre-exit
        "exit_ldiff": 0,  # length-difference pre-exit
        "exit_identical": 0,  # equal-bytes short-circuit
        "trim_collapsed": 0,  # prefix/suffix trim left an empty subject
        "hist_pairs": 0,  # pairs screened by the counting bound
        "hist_kills": 0,  # pairs the counting bound proved > k_eff
        "dp_pairs": 0,  # pairs that ran >= 1 banded-DP pass
        "dp_cells": 0,  # band cells advanced (active_rows x band_width per DP row)
        "doubling_rounds": 0,  # iterative-doubling escalations past round 1
    }


STATS.update(_stats_zero())


def enable_stats(on: bool = True) -> None:
    """Toggle kernel counters (resets them); see ``stats_snapshot``."""
    global _STATS_ON
    _STATS_ON = on
    STATS.clear()
    STATS.update(_stats_zero())


def stats_snapshot() -> dict:
    return dict(STATS)


def _to_bytes(v: Union[str, bytes, None]) -> Optional[bytes]:
    if v is None:
        return None
    if isinstance(v, bytes):
        return v
    if isinstance(v, float) and np.isnan(v):  # pandas NaN nulls
        return None
    return str(v).encode("utf-8")


# Arrow string/binary types and the binary type each is read as (zero-copy).
_BINARY_VIEW = {
    pa.string(): pa.binary(),
    pa.large_string(): pa.large_binary(),
    pa.binary(): pa.binary(),
    pa.large_binary(): pa.large_binary(),
}


def _as_arrow(v: Strings) -> pa.Array:
    """A kernel input as one binary-typed Arrow array.

    Arrow input is viewed in place (``string`` -> ``binary``, ``large_string``
    -> ``large_binary``, zero-copy, slices keep their offset); the ``pa.null()``
    type an untyped SQL ``NULL`` arrives as becomes an all-NULL binary array.
    Any other sequence (a list of str/bytes/None, a pandas Series) is
    converted once here: NaN is NULL, and a value that is neither str nor
    bytes scores its ``str()``."""
    if isinstance(v, pa.ChunkedArray):
        v = v.combine_chunks()
    if not isinstance(v, pa.Array):
        try:
            v = pa.array(v, from_pandas=True)
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            v = pa.array([_to_bytes(x) for x in v], pa.binary())
        if v.type not in _BINARY_VIEW and not pa.types.is_null(v.type):
            v = pa.array([_to_bytes(x) for x in v.to_pylist()], pa.binary())
    if pa.types.is_null(v.type):
        return pa.nulls(len(v), pa.binary())
    if v.type not in _BINARY_VIEW:
        raise TypeError(f"kernel input must be a string or binary array, not {v.type}")
    return v.view(_BINARY_VIEW[v.type])


def _flat(x: pa.Array) -> tuple:
    """``(bytes, starts, lengths, nulls)`` of a binary array as NumPy: the
    value buffer cut to the array's own range, per-value starts into it and
    lengths from the offsets (0 where NULL), NULLs from the validity."""
    n = len(x)
    if n == 0:
        z = np.empty(0, np.int64)
        return np.empty(0, np.uint8), z, z, np.empty(0, bool)
    _, offs_buf, data_buf = x.buffers()
    odt = np.dtype(np.int64 if pa.types.is_large_binary(x.type) else np.int32)
    offs = np.frombuffer(offs_buf, odt, n + 1, x.offset * odt.itemsize).astype(np.int64)
    lo, hi = int(offs[0]), int(offs[-1])
    data = np.frombuffer(data_buf, np.uint8)[lo:hi] if hi > lo else np.empty(0, np.uint8)
    nulls = (
        x.is_null().to_numpy(zero_copy_only=False) if x.null_count else np.zeros(n, bool)
    )
    lens = np.diff(offs)
    lens[nulls] = 0
    return data, offs[:-1] - lo, lens, nulls


class _Pairs:
    """A batch of ``(a, b)`` pairs as NumPy views over one byte buffer: per
    pair each side's start and length, the NULL mask (either side) and byte
    identity (``pc.equal``). Every later phase addresses bytes by index."""

    def __init__(self, a: Strings, b: Strings):
        a, b = _as_arrow(a), _as_arrow(b)
        if len(a) != len(b):
            raise ValueError("a and b must have equal length")
        self.a, self.b, self.n = a, b, len(a)
        da, self.sa, self.la, na = _flat(a)
        db, sb, self.lb, nb = _flat(b)
        self.data = np.concatenate([da, db])
        self.sb = sb + da.size
        self.nulls = na | nb

    def identical(self) -> np.ndarray:
        return pc.equal(self.a, self.b).fill_null(False).to_numpy(zero_copy_only=False)


def _caps(k: Caps, n: int) -> np.ndarray:
    """Per-pair caps as int64; a negative cap means unbounded. An integer
    array is used as is; in an Arrow array a NULL, and in any other sequence
    a None or NaN entry, becomes the unbounded sentinel -1."""
    if isinstance(k, (pa.Array, pa.ChunkedArray)):
        if pa.types.is_null(k.type):
            return np.full(n, -1, np.int64)
        return k.fill_null(-1).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    karr = np.asarray(k)
    if karr.ndim == 0:
        return np.full(n, int(karr), np.int64)
    if karr.dtype.kind in "iu":
        return karr.astype(np.int64, copy=False)
    return np.array(
        [(-1 if (v is None or (isinstance(v, float) and np.isnan(v))) else int(v)) for v in karr],
        np.int64,
    )


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Positions of the byte ranges ``[starts[i], starts[i] + lens[i])``,
    concatenated in order."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if ends.size else 0
    return np.repeat(starts - (ends - lens), lens) + np.arange(total)


def _common_run(
    data: np.ndarray, s: np.ndarray, q: np.ndarray, limit: np.ndarray, step: int
) -> np.ndarray:
    """Per pair, how many bytes agree walking from ``s`` and ``q`` by ``step``
    (+1: common prefix, -1 from the last bytes: common suffix), at most
    ``limit``. Each round compares a window of every open pair, widening 8x
    per round from 1 byte (to at most ~2^20 cells per round): pairs that
    differ at once cost one gather, and a long shared run takes a few
    rounds."""
    run = np.zeros(limit.size, np.int64)
    act = np.flatnonzero(limit > 0)
    w = 1
    while act.size:
        left = limit[act] - run[act]
        width = min(w, int(left.max()), max(256, (1 << 20) // act.size))
        # a column past a pair's limit re-reads its last byte in range
        off = (run[act, None] + np.minimum(np.arange(width), left[:, None] - 1)) * step
        differ = data[s[act, None] + off] != data[q[act, None] + off]
        stop = differ.any(1)
        run[act] += np.minimum(np.where(stop, differ.argmax(1), width), left)
        act = act[~stop & (run[act] < limit[act])]
        w *= 8
    return run


def _histogram_kills(
    data: np.ndarray, s: np.ndarray, n: np.ndarray, q: np.ndarray, m: np.ndarray, keff: np.ndarray
) -> np.ndarray:
    """Mask of pairs the 64-bin counting bound proves > ``keff``: per chunk,
    one ``bincount`` of ``pair*64 + (byte & 63)`` over each side's byte
    ranges, gathered from the value buffer by index. Chunks hold at most
    ``_HIST_PAIRS_CHUNK`` pairs and, past their first pair, at most
    ``_HIST_BYTES_CHUNK`` bytes, so temporaries stay bounded for long
    strings too."""
    kill = np.zeros(n.size, bool)
    ends = np.cumsum(n + m)
    lo = 0
    while lo < n.size:
        base = int(ends[lo - 1]) if lo else 0
        hi = int(np.searchsorted(ends, base + _HIST_BYTES_CHUNK, "right"))
        hi = min(max(hi, lo + 1), lo + _HIST_PAIRS_CHUNK)
        rows64 = np.arange(hi - lo, dtype=np.int64) * 64
        size = rows64.size * 64
        hs = np.bincount(
            np.repeat(rows64, n[lo:hi]) + (data[_ranges(s[lo:hi], n[lo:hi])] & 63), minlength=size
        )
        hq = np.bincount(
            np.repeat(rows64, m[lo:hi]) + (data[_ranges(q[lo:hi], m[lo:hi])] & 63), minlength=size
        )
        kill[lo:hi] = np.abs(hs - hq).reshape(-1, 64).sum(1) > 2 * keff[lo:hi]
        lo = hi
    return kill


def batch_edit_distance(
    a: Strings, b: Strings, k: Caps = None, transpositions: bool = True
) -> np.ndarray:
    """Edit distance for a batch of pairs; returns int64 array.

    ``a`` and ``b`` are Arrow arrays or sequences (see ``_as_arrow``).
    ``k=None`` (or a per-pair None / NULL / negative sentinel) = unbounded.
    ``transpositions=True`` gives OSA (``edit_dist_t`` /
    ``bounded_edit_dist_t``), ``False`` plain Levenshtein (``edit_dist`` /
    ``bounded_edit_dist``).
    """
    return _edit_distance(_Pairs(a, b), k, transpositions)


def _edit_distance(P: _Pairs, k: Caps, transpositions: bool) -> np.ndarray:
    n_pairs = P.n
    la, lb, null_mask = P.la, P.lb, P.nulls
    m_len = np.maximum(la, lb)  # longer
    n_len = np.minimum(la, lb)  # shorter

    # Effective cap: min(user k, max(len)). prealgorithm + validate_max.h.
    if k is None:
        keff = m_len.copy()
    else:
        karr = _caps(k, n_pairs)
        unbounded = karr < 0
        keff = np.where(unbounded, m_len, np.minimum(karr, m_len))

    res = np.full(n_pairs, -1, np.int64)

    # NULL exit: max(len) directly, cap bypassed (prealgorithm.h:17-23).
    res[null_mask] = m_len[null_mask]
    # Empty shorter string exit: longer length, cap bypassed (prealgorithm.h:69-75).
    empty_mask = (~null_mask) & (n_len == 0)
    res[empty_mask] = m_len[empty_mask]
    # Length-difference exit (prealgorithm.h:77-86).
    ldiff_mask = (res < 0) & ((m_len - n_len) > keff)
    res[ldiff_mask] = keff[ldiff_mask] + 1
    # Identical strings short-circuit (free and exact: distance 0).
    todo = np.flatnonzero(res < 0)
    same = P.identical()[todo] if todo.size else np.zeros(0, bool)
    res[todo[same]] = 0
    todo = todo[~same]
    if _STATS_ON:
        STATS["pairs"] += n_pairs
        STATS["exit_null"] += int(null_mask.sum())
        STATS["exit_empty"] += int(empty_mask.sum())
        STATS["exit_ldiff"] += int(ldiff_mask.sum())
        STATS["exit_identical"] += int(same.sum())
    if todo.size == 0:
        return res

    # Swap so subject = shorter string per pair (prealgorithm.h:60-63): from
    # here on a pair is (subject start, query start, their lengths) into
    # P.data.
    a_subj = la[todo] <= lb[todo]
    s0 = np.where(a_subj, P.sa[todo], P.sb[todo])
    q0 = np.where(a_subj, P.sb[todo], P.sa[todo])
    n0 = n_len[todo]
    m0 = m_len[todo]

    # Strip common prefix/suffix (reference prealgorithm.h:29-57 /
    # simd_trim.cpp:58-118). Edit distance — incl. OSA — is invariant under
    # removing a shared prefix and suffix (pinned by the exhaustive and
    # property differential tests); for near-duplicate corpora this collapses
    # most DPs to a handful of rows. Cap semantics keep using ORIGINAL
    # lengths (keff was already computed above). The suffix never reaches
    # into the prefix: it is capped at what the prefix left of the subject.
    pre = _common_run(P.data, s0, q0, n0, 1)
    suf = _common_run(P.data, s0 + n0 - 1, q0 + m0 - 1, n0 - pre, -1)
    s0 = s0 + pre
    q0 = q0 + pre
    t_nlen = n0 - pre - suf
    t_mlen = m0 - pre - suf

    # Trimmed-empty subject: distance is the remaining query length.
    done = t_nlen == 0
    if _STATS_ON:
        STATS["trim_collapsed"] += int(done.sum())
    if done.any():
        gi = todo[done]
        res[gi] = np.minimum(keff[gi] + 1, t_mlen[done])
        keep = ~done
        todo, s0, q0, t_nlen, t_mlen = todo[keep], s0[keep], q0[keep], t_nlen[keep], t_mlen[keep]
        if todo.size == 0:
            return res

    # Counting lower bound on the trimmed remainders: one substitution moves
    # the byte histogram by L1 distance <= 2, one insert/delete by <= 1, one
    # transposition by 0, so L1 > 2*k_eff proves distance > k_eff and the
    # pair returns exactly k_eff+1 (the value the reference's bounded
    # convention assigns any provably-exceeding pair) without running the DP.
    # On non-match-heavy candidate sets this kills ~99% of the DP work;
    # near-duplicates trim to remainders with n'+m' <= 2*k_eff and skip the
    # histogram entirely (kill impossible there — and never possible for
    # unbounded pairs).
    # 64 histogram bins (byte & 63): merging bins only ever DECREASES the L1
    # distance, so the bound stays valid, and the compact histograms stay
    # cache-resident (256 int64 bins measured ~300x slower on this host).
    cand = np.flatnonzero(t_nlen + t_mlen > 2 * keff[todo])
    if _STATS_ON:
        STATS["hist_pairs"] += int(cand.size)
    if cand.size:
        kills = _histogram_kills(
            P.data, s0[cand], t_nlen[cand], q0[cand], t_mlen[cand], keff[todo[cand]]
        )
        kb = cand[kills]
        if kb.size:
            gi = todo[kb]
            res[gi] = keff[gi] + 1
            if _STATS_ON:
                STATS["hist_kills"] += int(kb.size)
        alive = res[todo] < 0
        if not alive.any():
            return res
        todo, s0, q0 = todo[alive], s0[alive], q0[alive]
        t_nlen, t_mlen = t_nlen[alive], t_mlen[alive]

    # Effective band half-width per pair: the cap can't usefully exceed the
    # (trimmed) longer length.
    eff_k = np.minimum(keff[todo], t_mlen)

    # Iterative doubling for wide caps (the unbounded `edit_dist`/`edit_dist_t`
    # path): a banded run at cap c costs O(c·n) and returns exact distances
    # <= c, so start narrow and escalate only unresolved pairs — total work
    # is geometric in the TRUE distance, not the string length. Pairs whose
    # cap is already narrow run once, unchanged.
    if _STATS_ON:
        STATS["dp_pairs"] += int(todo.size)
    pending = np.arange(todo.size)
    c = _DOUBLING_START
    first_round = True
    while pending.size:
        if _STATS_ON and not first_round:
            STATS["doubling_rounds"] += 1
        first_round = False
        caps = np.minimum(eff_k[pending], c)
        # length-difference pre-exit per round: |m'-n'| > cap proves the
        # round's cap is exceeded without a DP (at the final cap this can't
        # happen — the global ldiff exit already ran against k_eff)
        dist = np.empty(pending.size, np.int64)
        runnable = (t_mlen - t_nlen)[pending] <= caps
        dist[~runnable] = caps[~runnable] + 1
        if runnable.any():
            sel = pending[runnable]
            dist[runnable] = _run_banded_chunks(
                P.data, s0[sel], q0[sel], t_nlen[sel], t_mlen[sel], caps[runnable], transpositions
            )
        final_cap = caps >= eff_k[pending]
        resolved = (dist <= caps) | final_cap
        gi = todo[pending[resolved]]
        res[gi] = np.minimum(keff[gi] + 1, dist[resolved])
        pending = pending[~resolved]
        c *= 4

    return res


def _run_banded_chunks(
    data: np.ndarray,
    s0: np.ndarray,
    q0: np.ndarray,
    t_nlen: np.ndarray,
    t_mlen: np.ndarray,
    caps: np.ndarray,
    transpositions: bool,
) -> np.ndarray:
    """Run the banded DP over the given pairs with per-pair ``caps``,
    chunked by query length so band width and padding are sized per chunk,
    not by the global worst case. Returns raw distances aligned to the
    inputs (values > cap mean "exceeds this cap")."""
    out = np.empty(caps.size, np.int64)
    order = np.argsort(t_mlen, kind="stable")
    caps_sorted = caps[order]
    pos = 0
    while pos < order.size:
        # Grow the chunk while (rows x band-width) stays within the cell
        # budget (at least one row). Memory per chunk is ~3 band matrices of
        # (rows x W) cells; the DP loop length is the chunk's max subject
        # length, so sorting by query length keeps chunks length-homogeneous
        # and the lockstep efficient.
        widest = np.maximum.accumulate(caps_sorted[pos:])
        over = np.arange(1, widest.size + 1) * (2 * widest + 1) > _CHUNK_CELL_BUDGET
        end = pos + max(1, int(over.argmax()) if over.any() else widest.size)
        part = order[pos:end]
        pos = end
        out[part] = _dp_band_chunk(
            data, s0[part], q0[part], t_nlen[part], t_mlen[part], caps[part], transpositions
        )
    return out


def _dp_band_chunk(
    data: np.ndarray,
    s0: np.ndarray,
    q0: np.ndarray,
    n_len: np.ndarray,
    m_len: np.ndarray,
    keff: np.ndarray,
    transpositions: bool,
) -> np.ndarray:
    """Lockstep banded DP over one chunk. Returns raw distances (may exceed keff).

    Memory-traffic-minimized layout (the DP is DRAM-bound at high core
    counts): int16 cells when lengths allow (halves band traffic), padded
    query/validity matrices so the per-row character window and valid-mask
    are contiguous *views* (no per-row gathers), band buffers carry one
    trailing INF column so the "up" neighbour is a view too, and all row
    arithmetic writes into preallocated scratch (no allocator churn).
    """
    bsz = n_len.size
    n_max = int(n_len.max())
    m_max = int(m_len.max())
    K = int(keff.max())
    K = min(K, m_max)  # band never needs to exceed the longest string
    W = 2 * K + 1

    # int16 unless lengths could overflow it (INF + n_max must stay < 2^15;
    # real distances <= m_max stay well below INF).
    use16 = (m_max + 2) < int(_INF16) and (int(_INF16) + 1 + n_max) < 32000
    dt = np.int16 if use16 else np.int32
    INF = _INF16 if use16 else _INF
    inf = dt(INF)

    # Padded byte matrices. Qp has K+1 margin columns on each side so the
    # per-row windows Qp[:, i:i+W] (char at j-1) and Qp[:, i-1:i-1+W] (char
    # at j-2) are plain slices; margin bytes never matter because the valid
    # mask overwrites those cells with INF.
    # Both are filled by one gather each from the value buffer.
    S = np.zeros((bsz, max(n_max, 1)), np.uint8)
    Qp = np.zeros((bsz, m_max + W + 2), np.uint8)
    rows = np.arange(bsz)
    for mat, starts, lens, col0 in ((S, s0, n_len, 0), (Qp, q0, m_len, K + 1)):
        pos = _ranges(starts, lens)
        mat[np.repeat(rows, lens), pos - np.repeat(starts - col0, lens)] = data[pos]

    # Validity as a sliding window: cell (r, o) of row i has column
    # j = i + o - K, valid iff 1 <= j <= m_r, i.e. K+1 <= i+o <= K+m_r.
    u = np.arange(n_max + W + 1, dtype=np.int32)
    Vp = (u >= K + 1) & (u <= (K + m_len.astype(np.int32))[:, None])

    keffd = keff.astype(np.int32)
    ar = np.arange(W, dtype=dt)

    # Row 0: D[0][j] = j for j in [0, m], INF outside band/matrix. Buffers
    # have one extra trailing column fixed at INF ("up" neighbour view).
    j0 = np.arange(W, dtype=np.int32) - K
    b_prev2 = np.full((bsz, W + 1), inf, dt)
    b_prev = np.full((bsz, W + 1), inf, dt)
    b_cur = np.full((bsz, W + 1), inf, dt)
    b_prev[:, :W] = np.where((j0 >= 0) & (j0 <= m_len[:, None]), j0, INF).astype(dt)
    prev_min = b_prev[:, :W].min(axis=1).astype(np.int32)

    result = np.full(bsz, -1, np.int64)
    active = np.ones(bsz, bool)
    cand = np.empty((bsz, W), dt)
    tmp = np.empty((bsz, W), dt)
    tmask = np.empty((bsz, W), bool)
    notv = np.empty((bsz, W), bool)

    for i in range(1, n_max + 1):
        qc = Qp[:, i : i + W]  # query char at j-1 (view)
        sc = S[:, i - 1][:, None]  # subject char at i-1
        valid = Vp[:, i : i + W]  # (view)

        # cand = min(prev + cost, up + 1)
        np.not_equal(qc, sc, out=tmask)
        cost = tmask.view(np.int8)  # 0/1 bytes
        np.add(b_prev[:, :W], cost, out=cand, casting="unsafe")
        np.add(b_prev[:, 1 : W + 1], 1, out=tmp)
        np.minimum(cand, tmp, out=cand)

        if transpositions and i >= 2:
            q2 = Qp[:, i - 1 : i - 1 + W]  # query char at j-2 (view)
            s2 = S[:, i - 2][:, None]
            # subject[i-1]==query[j-2] and subject[i-2]==query[j-1]
            np.add(b_prev2[:, :W], cost, out=tmp, casting="unsafe")
            trans = (q2 == sc) & (qc == s2)
            np.minimum(cand, tmp, out=tmp)
            np.copyto(cand, tmp, where=trans)

        np.logical_not(valid, out=notv)
        np.copyto(cand, inf, where=notv)
        if i <= K:
            cand[:, K - i] = i  # boundary column D[i][0] = i

        # Min-plus prefix scan resolves D[i][j-1] + 1 within the row.
        np.subtract(cand, ar, out=cand)
        np.minimum.accumulate(cand, axis=1, out=cand)
        np.add(cand, ar, out=b_cur[:, :W])
        if _STATS_ON:
            STATS["dp_cells"] += int(active.sum()) * W

        # Freeze finished pairs (i == shorter length): answer at j == m.
        done = active & (n_len == i)
        if done.any():
            rows = np.flatnonzero(done)
            o_fin = (m_len[rows] - i + K).astype(np.intp)
            result[rows] = b_cur[rows, o_fin]
            active[rows] = False

        # Early exit: once two consecutive rows are entirely > keff, every
        # later cell is too (cost>=0; OSA can reach back two rows). Mirrors
        # the reference's empty-band exit (bounded_edit_dist_t.cpp:266-276).
        cur_min = b_cur[:, :W].min(axis=1).astype(np.int32)
        dead = active & (cur_min > keffd) & (prev_min > keffd)
        if dead.any():
            result[dead] = keff[dead] + 1
            active[dead] = False

        if not active.any():
            break

        b_prev2, b_prev, b_cur = b_prev, b_cur, b_prev2
        prev_min = cur_min

    return result


def _probabilities(p: Union[float, Sequence[float], np.ndarray, pa.Array], n: int) -> np.ndarray:
    """Per-pair similarity thresholds as float64 (an Arrow NULL is NaN),
    validated to lie in [0, 1]."""
    if isinstance(p, (pa.Array, pa.ChunkedArray)):
        p = p.cast(pa.float64()).to_numpy(zero_copy_only=False)
    parr = np.asarray(p, np.float64)
    if parr.ndim == 0:
        parr = np.full(n, float(parr), np.float64)
    if ((parr < 0.0) | (parr > 1.0)).any():
        raise ValueError("similarity must be in the interval [0.0, 1.0]")
    return parr


_ADAPTIVE_CHUNK = 1 << 12


def batch_closest_similarity(
    a: Strings,
    b: Strings,
    p: Union[float, Sequence[float], np.ndarray, pa.Array],
    chunk: int = _ADAPTIVE_CHUNK,
) -> np.ndarray:
    """Within-batch adaptive-floor similarity for most-similar scans
    (reference ``min_similarity_t``'s mutable ``max_result``,
    ``src/min_similarity_t.cpp`` / ``similarity_t.cpp:284-290``): the batch
    runs in sub-chunks, and each chunk's per-probe (``a`` value) best TRUE
    similarity raises the effective threshold ``p' = max(p, best[probe])``
    for later chunks, which shrinks the derived cap ``k' = int((1-p')*m)``.

    Soundness: every reported value is either the pair's PLAIN
    ``batch_similarity`` value (rows within the tightened cap — this
    includes each probe's true maximum and all its ties, since a winner's
    distance ``(1-sim)·m ≤ (1-best)·m`` always fits the cap, float-guarded
    by a +1 band margin) or the ORIGINAL ``p``'s floor
    ``max(0, 1-(k_p+1)/m) < p`` (rows the tightened cap rejected — all
    provably below the probe's running best). A tightened cap's own
    ``1-(k'+1)/m`` clamp value is deliberately NEVER reported: float
    truncation in ``int((1-best)·m)`` can land that value exactly ON the
    running best, manufacturing a spurious arg-max tie (caught by
    tests/test_closest.py). Consume ONLY through an arg-max/top-1
    aggregation (the reference's own contract, doc/Usage.md:173-176).
    """
    A, B = _as_arrow(a), _as_arrow(b)
    P = _Pairs(A, B)
    n = P.n
    parr = _probabilities(p, n)
    m = np.maximum(P.la, P.lb).astype(np.float64)
    k_p = ((1.0 - parr) * m).astype(np.int64)  # reference cap formula
    with np.errstate(divide="ignore", invalid="ignore"):
        floor_p = np.maximum(0.0, 1.0 - (k_p + 1.0) / m)
    # probe ids: NULL is one probe of its own, as in a GROUP BY
    probe = pc.dictionary_encode(A, null_encoding="encode").indices.to_numpy(zero_copy_only=False)
    best = np.zeros(int(probe.max()) + 1 if n else 0, np.float64)
    out = np.empty(n, np.float64)
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        ids = probe[lo:hi]
        # +1 margin: a winner's d = (1-sim)*m with sim >= best always fits
        k_best = np.floor((1.0 - best[ids]) * m[lo:hi]).astype(np.int64) + 1
        k_eff = np.minimum(k_p[lo:hi], k_best)
        d = _edit_distance(_Pairs(A.slice(lo, hi - lo), B.slice(lo, hi - lo)), k_eff, True)
        with np.errstate(divide="ignore", invalid="ignore"):
            result = np.maximum(0.0, 1.0 - np.minimum(d, k_p[lo:hi] + 1) / m[lo:hi])
        rep = np.where(
            d <= k_eff,
            np.maximum(result, floor_p[lo:hi]),  # the plain kernel's value
            floor_p[lo:hi],  # rejected: report the original-p floor
        )
        rep[m[lo:hi] == 0] = 1.0
        out[lo:hi] = rep
        np.maximum.at(best, ids, rep)
    return out


def batch_similarity(
    a: Strings,
    b: Strings,
    p: Union[float, Sequence[float], np.ndarray, pa.Array],
) -> np.ndarray:
    """Normalized OSA similarity per reference ``similarity_t``.

    cap ``k = int((1-p) * m)`` with ``m = max(len(a), len(b))``
    (``similarity_t.cpp:56-58,118``); result
    ``max(result, max_result)`` where ``result = max(0, 1 - d/m)`` and
    ``max_result = max(0, 1 - (k+1)/m)`` (``similarity_t.cpp:141-142,284-290``).
    NULL is treated as empty; two empty strings score 1.0 (documented
    deviation from the C quirk of returning raw distances on those exits).
    """
    P = _Pairs(a, b)
    parr = _probabilities(p, P.n)
    m = np.maximum(P.la, P.lb).astype(np.float64)

    kmax = ((1.0 - parr) * m).astype(np.int64)  # similarity_to_max_edits
    d = _edit_distance(P, kmax, True).astype(np.float64)
    d = np.minimum(d, kmax + 1)

    with np.errstate(divide="ignore", invalid="ignore"):
        result = np.maximum(0.0, 1.0 - d / m)
        floor = np.maximum(0.0, 1.0 - (kmax + 1.0) / m)
    out = np.maximum(result, floor)
    out[m == 0] = 1.0
    return out
