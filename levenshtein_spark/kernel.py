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
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

import numpy as np

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
# table (2 x rows x 64 int64 = 8 MB at 2^13); the byte buffers themselves
# are concatenations of the actual strings, so peak temporary memory is
# input-linear in string length (no padded matrices — ADVICE r01).
_HIST_PAIRS_CHUNK = 1 << 13

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


def _caps(k: Union[int, Sequence[Optional[int]], np.ndarray], n: int) -> np.ndarray:
    """Per-pair caps as int64; a negative cap means unbounded. An integer
    array (what every distance UDF sends) is used as is; in any other
    sequence a None or NaN entry becomes the unbounded sentinel -1."""
    karr = np.asarray(k)
    if karr.ndim == 0:
        return np.full(n, int(karr), np.int64)
    if karr.dtype.kind in "iu":
        return karr.astype(np.int64, copy=False)
    return np.array(
        [(-1 if (v is None or (isinstance(v, float) and np.isnan(v))) else int(v)) for v in karr],
        np.int64,
    )


def batch_edit_distance(
    a: Sequence[Union[str, bytes, None]],
    b: Sequence[Union[str, bytes, None]],
    k: Union[None, int, Sequence[Optional[int]], np.ndarray] = None,
    transpositions: bool = True,
) -> np.ndarray:
    """Edit distance for a batch of pairs; returns int64 array.

    ``k=None`` (or a per-pair None / negative sentinel) = unbounded.
    ``transpositions=True`` gives OSA (``edit_dist_t`` /
    ``bounded_edit_dist_t``), ``False`` plain Levenshtein (``edit_dist`` /
    ``bounded_edit_dist``).
    """
    a_b = [_to_bytes(x) for x in a]
    b_b = [_to_bytes(x) for x in b]
    n_pairs = len(a_b)
    if len(b_b) != n_pairs:
        raise ValueError("a and b must have equal length")

    la = np.fromiter((0 if x is None else len(x) for x in a_b), np.int64, n_pairs)
    lb = np.fromiter((0 if x is None else len(x) for x in b_b), np.int64, n_pairs)
    null_mask = np.fromiter(
        ((x is None) or (y is None) for x, y in zip(a_b, b_b)), bool, n_pairs
    )

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
    same = np.fromiter((a_b[i] == b_b[i] for i in todo), bool, todo.size)
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

    # Swap so subject = shorter string per pair (prealgorithm.h:60-63).
    subj = [a_b[i] if la[i] <= lb[i] else b_b[i] for i in todo]
    quer = [b_b[i] if la[i] <= lb[i] else a_b[i] for i in todo]

    # Strip common prefix/suffix (reference prealgorithm.h:29-57 /
    # simd_trim.cpp:58-118). Edit distance — incl. OSA — is invariant under
    # removing a shared prefix and suffix (pinned by the exhaustive and
    # property differential tests); for near-duplicate corpora this collapses
    # most DPs to a handful of rows. Cap semantics keep using ORIGINAL
    # lengths (keff was already computed above).
    t_nlen = np.empty(todo.size, np.int64)
    t_mlen = np.empty(todo.size, np.int64)
    for s in range(todo.size):
        sa, qa = subj[s], quer[s]
        n = len(sa)
        p = sfx = 0
        if sa[0] == qa[0]:  # cheap guard: most non-dup pairs mismatch byte 0
            x = np.frombuffer(sa, np.uint8)
            y = np.frombuffer(qa, np.uint8)
            neq = x != y[:n]
            p = int(neq.argmax()) if neq.any() else n
        if p < n and sa[-1] == qa[-1]:
            n2 = n - p
            x2 = np.frombuffer(sa, np.uint8)[n - n2:][::-1]
            y2 = np.frombuffer(qa, np.uint8)[len(qa) - n2:][::-1]
            neq2 = x2 != y2
            sfx = int(neq2.argmax()) if neq2.any() else n2
        if p or sfx:
            sa = sa[p:len(sa) - sfx] if sfx else sa[p:]
            qa = qa[p:len(qa) - sfx] if sfx else qa[p:]
            subj[s], quer[s] = sa, qa
        t_nlen[s] = len(sa)
        t_mlen[s] = len(qa)

    # Trimmed-empty subject: distance is the remaining query length.
    done = t_nlen == 0
    if _STATS_ON:
        STATS["trim_collapsed"] += int(done.sum())
    if done.any():
        d_idx = np.flatnonzero(done)
        gi = todo[d_idx]
        res[gi] = np.minimum(keff[gi] + 1, t_mlen[d_idx])
        keep = np.flatnonzero(~done)
        todo = todo[keep]
        subj = [subj[s] for s in keep]
        quer = [quer[s] for s in keep]
        t_nlen = t_nlen[keep]
        t_mlen = t_mlen[keep]
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
    # Gather-free histograms: concatenate each chunk's bytes into ONE buffer
    # and bincount pair_index*64 + (byte & 63) in a single C pass — no
    # padded (rows x width) matrices and no per-pair Python fill loop, so
    # temporary memory is input-linear in string length and the pass runs at
    # memory speed (~2x the padded-matrix formulation on 64-char pairs).
    # Long-string chunks (mean > 1 KB) drop the int64 index vector (8 bytes
    # per input byte) and bincount per pair instead — few pairs, big
    # buffers, so the Python loop is noise and memory traffic falls ~8x.
    for s0 in range(0, cand.size, _HIST_PAIRS_CHUNK):
        blk = cand[s0 : s0 + _HIST_PAIRS_CHUNK]
        bn = blk.size
        n_bytes = int(t_mlen[blk].sum())
        if n_bytes > 1024 * bn:
            hs = np.empty((bn, 64), np.int64)
            hq = np.empty((bn, 64), np.int64)
            for r, s in enumerate(blk):
                hs[r] = np.bincount(np.frombuffer(subj[s], np.uint8) & 63, minlength=64)
                hq[r] = np.bincount(np.frombuffer(quer[s], np.uint8) & 63, minlength=64)
        else:
            sb = np.frombuffer(b"".join([subj[s] for s in blk]), np.uint8)
            qb = np.frombuffer(b"".join([quer[s] for s in blk]), np.uint8)
            s_idx = np.repeat(np.arange(bn, dtype=np.int64) * 64, t_nlen[blk])
            q_idx = np.repeat(np.arange(bn, dtype=np.int64) * 64, t_mlen[blk])
            hs = np.bincount(s_idx + (sb & 63), minlength=bn * 64).reshape(bn, 64)
            hq = np.bincount(q_idx + (qb & 63), minlength=bn * 64).reshape(bn, 64)
        l1 = np.abs(hs - hq).sum(1)
        kb = blk[l1 > 2 * keff[todo[blk]]]
        if kb.size:
            gi = todo[kb]
            res[gi] = keff[gi] + 1
            if _STATS_ON:
                STATS["hist_kills"] += int(kb.size)
    alive = np.flatnonzero(res[todo] < 0)
    if alive.size == 0:
        return res
    if alive.size < todo.size:
        todo = todo[alive]
        subj = [subj[s] for s in alive]
        quer = [quer[s] for s in alive]
        t_nlen = t_nlen[alive]
        t_mlen = t_mlen[alive]

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
            rsel = np.flatnonzero(runnable)
            dist[rsel] = _run_banded_chunks(
                subj, quer, t_nlen, t_mlen, pending[rsel], caps[rsel], transpositions
            )
        final_cap = caps >= eff_k[pending]
        resolved = (dist <= caps) | final_cap
        done = pending[resolved]
        gi = todo[done]
        res[gi] = np.minimum(keff[gi] + 1, dist[resolved])
        pending = pending[~resolved]
        c *= 4

    return res


def _run_banded_chunks(
    subj: list,
    quer: list,
    t_nlen: np.ndarray,
    t_mlen: np.ndarray,
    sel_idx: np.ndarray,
    caps: np.ndarray,
    transpositions: bool,
) -> np.ndarray:
    """Run the banded DP over ``sel_idx`` positions with per-pair ``caps``,
    chunked by query length so band width and padding are sized per chunk,
    not by the global worst case. Returns raw distances aligned to sel_idx
    (values > cap mean "exceeds this cap")."""
    out = np.empty(sel_idx.size, np.int64)
    order = np.argsort(t_mlen[sel_idx], kind="stable")
    pos = 0
    while pos < order.size:
        # Grow chunk until the (rows x band-width) cell budget is hit.
        # Memory per chunk is ~3 band matrices of (rows x W) cells; the DP
        # loop length is the chunk's max subject length, so sorting by query
        # length keeps chunks length-homogeneous and the lockstep efficient.
        k0 = int(caps[order[pos]])
        end = pos
        while end < order.size:
            i = order[end]
            w = 2 * max(k0, int(caps[i])) + 1
            rows = end - pos + 1
            if rows > 1 and rows * w > _CHUNK_CELL_BUDGET:
                break
            k0 = max(k0, int(caps[i]))
            end += 1
        part = order[pos:end]
        pos = end
        sel = sel_idx[part]
        out[part] = _dp_band_chunk(
            [subj[s] for s in sel],
            [quer[s] for s in sel],
            t_nlen[sel],
            t_mlen[sel],
            caps[part],
            transpositions,
        )
    return out


def _dp_band_chunk(
    subj: list,
    quer: list,
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
    bsz = len(subj)
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
    S = np.zeros((bsz, max(n_max, 1)), np.uint8)
    Qp = np.zeros((bsz, m_max + W + 2), np.uint8)
    for r, (s, q) in enumerate(zip(subj, quer)):
        S[r, : len(s)] = np.frombuffer(s, np.uint8)
        Qp[r, K + 1 : K + 1 + len(q)] = np.frombuffer(q, np.uint8)

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


_ADAPTIVE_CHUNK = 1 << 12


def batch_closest_distance(
    a: Sequence[Union[str, bytes, None]],
    b: Sequence[Union[str, bytes, None]],
    k: Union[None, int, Sequence[Optional[int]], np.ndarray] = None,
    transpositions: bool = True,
    chunk: int = _ADAPTIVE_CHUNK,
) -> np.ndarray:
    """Within-batch adaptive-cap edit distance for closest-match scans.

    Vectorized re-expression of the reference's cross-row mutable cap
    (``src/min_edit_dist_t.cpp:76-83,141-144,310``: each row's distance
    tightens the cap for every later row — ≈2/3 runtime saved,
    doc/Benchmarks.md:25). A sequential per-row running min would defeat
    the lockstep DP, so the batch is processed in sub-chunks: chunk ``i``
    runs fully vectorized with per-pair cap ``min(k, best_so_far[probe])``,
    then the per-probe running minima are folded in before chunk ``i+1``.

    CONTRACT (same as the reference's own, doc/Usage.md:173-176): only the
    rows achieving each probe's minimum are guaranteed exact. A tightened
    cap ``c`` makes provably-worse rows return ``c + 1`` (> the probe's
    true minimum, so the arg-min and its dist/tie-break are unchanged —
    every row whose true distance equals the probe minimum is within every
    cap ever applied to that probe and therefore exact). Consume ONLY
    through an arg-min/top-1 aggregation; use ``batch_edit_distance`` when
    each row's distance matters individually.
    """
    a_l = list(a)
    b_l = list(b)
    n = len(a_l)
    kv = np.full(n, -1, np.int64) if k is None else _caps(k, n)
    big = np.int64(1) << 40  # "unbounded" stand-in; keff clamps to max(len)
    kv_eff = np.where(kv < 0, big, kv)
    out = np.empty(n, np.int64)
    best: dict = {}
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        pa = a_l[lo:hi]
        caps = np.minimum(
            kv_eff[lo:hi],
            np.fromiter((best.get(p, big) for p in pa), np.int64, hi - lo),
        )
        d = batch_edit_distance(pa, b_l[lo:hi], k=caps, transpositions=transpositions)
        out[lo:hi] = d
        for p, dv in zip(pa, d.tolist()):
            cur = best.get(p)
            if cur is None or dv < cur:
                best[p] = dv
    return out


def batch_closest_similarity(
    a: Sequence[Union[str, bytes, None]],
    b: Sequence[Union[str, bytes, None]],
    p: Union[float, Sequence[float], np.ndarray],
    chunk: int = _ADAPTIVE_CHUNK,
) -> np.ndarray:
    """Within-batch adaptive-floor similarity for most-similar scans — the
    similarity twin of :func:`batch_closest_distance` (reference
    ``min_similarity_t``'s mutable ``max_result``,
    ``src/min_similarity_t.cpp`` / ``similarity_t.cpp:284-290``): each
    chunk's per-probe best TRUE similarity raises the effective threshold
    ``p' = max(p, best[probe])`` for later chunks, which shrinks the
    derived cap ``k' = int((1-p')*m)``.

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
    aggregation (same contract as the distance twin).
    """
    a_l = list(a)
    b_l = list(b)
    n = len(a_l)
    parr = np.asarray(p, np.float64)
    if parr.ndim == 0:
        parr = np.full(n, float(parr), np.float64)
    if ((parr < 0.0) | (parr > 1.0)).any():
        raise ValueError("similarity must be in the interval [0.0, 1.0]")
    la = np.fromiter(
        (0 if x is None else len(x) for x in (_to_bytes(v) for v in a_l)), np.int64, n
    )
    lb = np.fromiter(
        (0 if x is None else len(x) for x in (_to_bytes(v) for v in b_l)), np.int64, n
    )
    m = np.maximum(la, lb).astype(np.float64)
    k_p = ((1.0 - parr) * m).astype(np.int64)  # reference cap formula
    with np.errstate(divide="ignore", invalid="ignore"):
        floor_p = np.maximum(0.0, 1.0 - (k_p + 1.0) / m)
    out = np.empty(n, np.float64)
    best: dict = {}
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        pa = a_l[lo:hi]
        bestv = np.fromiter((best.get(x, 0.0) for x in pa), np.float64, hi - lo)
        # +1 margin: a winner's d = (1-sim)*m with sim >= best always fits
        k_best = np.floor((1.0 - bestv) * m[lo:hi]).astype(np.int64) + 1
        k_eff = np.minimum(k_p[lo:hi], k_best)
        d = batch_edit_distance(pa, b_l[lo:hi], k=k_eff, transpositions=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            result = np.maximum(0.0, 1.0 - np.minimum(d, k_p[lo:hi] + 1) / m[lo:hi])
        rep = np.where(
            d <= k_eff,
            np.maximum(result, floor_p[lo:hi]),  # the plain kernel's value
            floor_p[lo:hi],  # rejected: report the original-p floor
        )
        rep[m[lo:hi] == 0] = 1.0
        out[lo:hi] = rep
        for x, sv in zip(pa, rep.tolist()):
            if sv > best.get(x, -1.0):
                best[x] = sv
    return out


def batch_similarity(
    a: Sequence[Union[str, bytes, None]],
    b: Sequence[Union[str, bytes, None]],
    p: Union[float, Sequence[float], np.ndarray],
) -> np.ndarray:
    """Normalized OSA similarity per reference ``similarity_t``.

    cap ``k = int((1-p) * m)`` with ``m = max(len(a), len(b))``
    (``similarity_t.cpp:56-58,118``); result
    ``max(result, max_result)`` where ``result = max(0, 1 - d/m)`` and
    ``max_result = max(0, 1 - (k+1)/m)`` (``similarity_t.cpp:141-142,284-290``).
    NULL is treated as empty; two empty strings score 1.0 (documented
    deviation from the C quirk of returning raw distances on those exits).
    """
    a_b = [_to_bytes(x) for x in a]
    b_b = [_to_bytes(x) for x in b]
    n_pairs = len(a_b)
    parr = np.asarray(p, np.float64)
    if parr.ndim == 0:
        parr = np.full(n_pairs, float(parr), np.float64)
    if ((parr < 0.0) | (parr > 1.0)).any():
        raise ValueError("similarity must be in the interval [0.0, 1.0]")

    la = np.fromiter((0 if x is None else len(x) for x in a_b), np.int64, n_pairs)
    lb = np.fromiter((0 if x is None else len(x) for x in b_b), np.int64, n_pairs)
    m = np.maximum(la, lb).astype(np.float64)

    kmax = ((1.0 - parr) * m).astype(np.int64)  # similarity_to_max_edits
    d = batch_edit_distance(a_b, b_b, k=kmax, transpositions=True).astype(np.float64)
    d = np.minimum(d, kmax + 1)

    with np.errstate(divide="ignore", invalid="ignore"):
        result = np.maximum(0.0, 1.0 - d / m)
        floor = np.maximum(0.0, 1.0 - (kmax + 1.0) / m)
    out = np.maximum(result, floor)
    out[m == 0] = 1.0
    return out
