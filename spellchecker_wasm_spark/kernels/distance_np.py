"""Batched, numpy-vectorized Damerau-OSA — the scoring kernel behind the
Spark pandas UDF (SURVEY.md §2.6: the reference's banded DP,
damerau_osa.rs:57-172, re-expressed as batch-level numpy so no per-row
Python runs in the hot path).

Semantics contract: ``osa_batch(s1, s2, max_distance)`` returns, per pair,
exactly ``kernels.distance.osa_distance_max(s1, s2, max_distance)`` with
``None`` encoded as -1 (property-tested against the scalar kernel).

Approach: per-pair common prefix/suffix strip (vectorized), then one DP
whose (i, j) loops run in Python but whose cells are full-batch numpy
vectors; pairs are bucketed by stripped length so the loop bounds stay
tight — for true near-duplicates the stripped core is only a few
codepoints.  Full-DP-then-threshold is exact: the reference's band/early
abort only ever changes *when* >max is detected, not the ≤max values.
"""

from __future__ import annotations

import numpy as np

from .distance import osa_distance_max

_PAD1 = np.int32(0x7FFF0001)  # sentinels: never equal to any codepoint
_PAD2 = np.int32(0x7FFF0002)  # nor to each other


def _codepoint_matrix(strings: list[str], lens: np.ndarray, maxlen: int,
                      pad: np.int32) -> np.ndarray:
    """(B, maxlen) int32 codepoint matrix, sentinel-padded — built from one
    C-level utf-32 encode of the concatenated batch."""
    joined = "".join(strings)
    flat = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).view(np.int32)
    offsets = np.zeros(len(strings) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    idx = offsets[:-1, None] + np.arange(maxlen, dtype=np.int64)[None, :]
    valid = np.arange(maxlen)[None, :] < lens[:, None]
    out = np.full((len(strings), maxlen), pad, dtype=np.int32)
    if maxlen and len(strings):
        np.copyto(out, flat[np.minimum(idx, max(len(flat) - 1, 0))], where=valid)
    return out


def _strip_prefix_suffix(a: np.ndarray, b: np.ndarray, len1: np.ndarray,
                         len2: np.ndarray):
    """Vectorized helpers.rs:37-61: strip common suffix (bounded by len1),
    then common prefix of the remainder.  a/b are sentinel-padded codepoint
    matrices with len1 <= len2 rowwise."""
    B, L = a.shape
    cols = np.arange(L, dtype=np.int64)[None, :]
    # reversed-alignment comparison for the suffix
    ra = np.where(cols < len1[:, None],
                  np.take_along_axis(a, np.maximum(len1[:, None] - 1 - cols, 0), 1),
                  _PAD1)
    rb = np.where(cols < len2[:, None],
                  np.take_along_axis(b, np.maximum(len2[:, None] - 1 - cols, 0), 1),
                  _PAD2)
    mm = ra != rb
    suffix = np.where(mm.any(axis=1), mm.argmax(axis=1), len1)
    suffix = np.minimum(suffix, len1)
    # common forward prefix, capped at len1 - suffix
    mmf = a != b
    fwd = np.where(mmf.any(axis=1), mmf.argmax(axis=1), np.minimum(len1, len2))
    start = np.minimum(fwd, len1 - suffix)
    return len1 - suffix - start, len2 - suffix - start, start


def _dp_bucket(a: np.ndarray, b: np.ndarray, len1: np.ndarray,
               len2: np.ndarray, max_distance: int) -> np.ndarray:
    """Banded OSA DP, batch-vectorized; a/b already stripped+gathered so row
    r holds codepoints [0:len1[r]] / [0:len2[r]] with distinct pads.

    Cells with |j - i| outside the shared band [i-max, i+max+max_lendiff]
    are left at BIG — exact for ≤max decisions because any true value
    outside the band already exceeds max_distance (same argument as the
    reference's banded core, damerau_osa.rs:133-141).
    """
    # Memory-layout note: all working arrays are (L, B) so every access in
    # the inner loops (a[i], prev[j], cur[j-1], …) is a CONTIGUOUS
    # B-vector; cost arrays are int16.  The column-strided int32 variant
    # saturated this box's memory bandwidth at ~4-8 cores (scoring-only
    # scaling microbench) — contiguous rows + half-width costs cut the
    # streamed bytes ~4×.
    B = a.shape[0]
    at = np.ascontiguousarray(a.T)
    bt = np.ascontiguousarray(b.T)
    L1 = int(len1.max())
    L2 = int(len2.max())
    BIG = np.int16(1 << 13)
    lo_w = max_distance          # len2-len1 <= max_distance upstream
    hi_w = 2 * max_distance
    result = np.zeros(B, dtype=np.int32)
    prev2 = np.full((L2 + 1, B), BIG, dtype=np.int16)
    prev = np.full((L2 + 1, B), BIG, dtype=np.int16)
    init = min(hi_w + 1, L2) + 1
    prev[:init] = np.arange(init, dtype=np.int16)[:, None]
    cur = np.full((L2 + 1, B), BIG, dtype=np.int16)
    done0 = len1 == 0
    result[done0] = len2[done0]
    tmp = np.empty(B, dtype=np.int16)
    tmp2 = np.empty(B, dtype=np.int16)
    eq = np.empty(B, dtype=bool)
    for i in range(1, L1 + 1):
        jlo = max(1, i - lo_w)
        jhi = min(L2, i + hi_w)
        if jlo == 1:
            cur[0] = i
        else:
            cur[jlo - 1] = BIG
        c1 = at[i - 1]
        c1p = at[i - 2] if i > 1 else None
        for j in range(jlo, jhi + 1):
            c2 = bt[j - 1]
            np.equal(c1, c2, out=eq)
            np.minimum(prev[j], cur[j - 1], out=tmp)
            np.subtract(prev[j - 1], eq, out=tmp2)
            np.minimum(tmp, tmp2, out=tmp)
            np.add(tmp, 1, out=cur[j])
            if i > 1 and j > 1:
                trans = (c1 == bt[j - 2]) & (c1p == c2)
                np.add(prev2[j - 2], 1, out=tmp)
                np.minimum(cur[j], tmp, out=cur[j], where=trans)
        hit = len1 == i
        if hit.any():
            result[hit] = cur[len2[hit], np.nonzero(hit)[0]]
        prev2, prev, cur = prev, cur, prev2
    return result


def osa_batch(s1_list, s2_list, max_distance: int) -> np.ndarray:
    """Vector of bounded OSA distances; -1 where distance > max_distance
    (or the empty-string rules of helpers.rs:9-23 yield None)."""
    s1_list = ["" if s is None else s for s in s1_list]
    s2_list = ["" if s is None else s for s in s2_list]
    B = len(s1_list)
    out = np.full(B, -1, dtype=np.int64)
    if B == 0:
        return out
    l1 = np.fromiter((len(s) for s in s1_list), dtype=np.int64, count=B)
    l2 = np.fromiter((len(s) for s in s2_list), dtype=np.int64, count=B)

    # empty-string rules on the ORIGINAL strings (distance2 entry,
    # damerau_osa.rs:309-311 → helpers.rs:9-23)
    mn = np.minimum(l1, l2)
    mx = np.maximum(l1, l2)
    empty = mn == 0
    out[empty & (mx <= max_distance)] = mx[empty & (mx <= max_distance)]
    if max_distance <= 0:
        eq = np.array([a == b for a, b in zip(s1_list, s2_list)])
        out[:] = -1
        out[eq] = 0
        return out

    live = (~empty) & (mx - mn <= max_distance)
    if not live.any():
        return out
    idx = np.nonzero(live)[0]
    # shorter string first (damerau_osa.rs:316-325)
    sa = [s1_list[i] if l1[i] <= l2[i] else s2_list[i] for i in idx]
    sb = [s2_list[i] if l1[i] <= l2[i] else s1_list[i] for i in idx]
    la = mn[idx]
    lb = mx[idx]
    L = int(lb.max())
    A = _codepoint_matrix(sa, la, L, _PAD1)
    Bm = _codepoint_matrix(sb, lb, L, _PAD2)
    out[idx] = _osa_from_matrices(A, Bm, la, lb, max_distance)
    return out


def _osa_from_matrices(A: np.ndarray, Bm: np.ndarray, la: np.ndarray,
                       lb: np.ndarray, max_distance: int) -> np.ndarray:
    """Core of osa_batch: sentinel-padded codepoint matrices (shorter
    string in A rowwise, len diff ≤ max) → bounded distances (-1 encodes
    None)."""
    L = A.shape[1]
    n1, n2, start = _strip_prefix_suffix(A, Bm, la, lb)

    res = np.full(len(la), -1, dtype=np.int64)
    zero = n1 == 0
    res[zero & (n2 <= max_distance)] = n2[zero & (n2 <= max_distance)]

    # int16 cost arrays bound the DP to cores < ~8k codepoints; route the
    # (vanishingly rare) huge-core pairs to the scalar kernel instead
    huge = (~zero) & (n2 > 4000)
    for h in np.nonzero(huge)[0]:
        s1 = "".join(map(chr, A[h, :la[h]]))
        s2 = "".join(map(chr, Bm[h, :lb[h]]))
        d = osa_distance_max(s1, s2, max_distance)
        res[h] = -1 if d is None else d

    todo = np.nonzero(~zero & ~huge)[0]
    if todo.size:
        # gather stripped cores and bucket by core length to keep DP tight
        L2m = int(n2[todo].max())
        cols = np.arange(L2m, dtype=np.int64)[None, :]
        gidx = np.minimum(start[todo, None] + cols, L - 1)
        Ac = np.where(cols < n1[todo, None],
                      np.take_along_axis(A[todo], gidx, 1), _PAD1)
        Bc = np.where(cols < n2[todo, None],
                      np.take_along_axis(Bm[todo], gidx, 1), _PAD2)
        order = np.argsort(n2[todo], kind="stable")
        sorted_n2 = n2[todo][order]
        # power-of-two length buckets keep the DP loop bounds tight for the
        # dominant tiny-core (true near-duplicate) pairs
        bucket_edges = [0]
        cap = 2
        for pos in range(todo.size):
            while sorted_n2[pos] > cap:
                if bucket_edges[-1] != pos:
                    bucket_edges.append(pos)
                cap *= 2
        bucket_edges.append(todo.size)
        for b0, b1 in zip(bucket_edges[:-1], bucket_edges[1:]):
            if b0 == b1:
                continue
            sel = order[b0:b1]
            d = _dp_bucket(Ac[sel], Bc[sel], n1[todo][sel], n2[todo][sel],
                           max_distance)
            r = np.where(d <= max_distance, d.astype(np.int64), -1)
            res[todo[sel]] = r
    return res
