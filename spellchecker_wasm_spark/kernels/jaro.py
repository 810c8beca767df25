"""Jaro / Jaro-Winkler similarity — the classic ER pair-scoring feature
(beyond-reference: the reference scores only edit-distance families,
SURVEY.md §2.6; production record linkage pairs an edit-distance scorer
with Jaro-Winkler for short name-like fields, which is exactly the
title/host-token shape the north rule's pipeline scores).

Exactness contract: bit-identical float64 against DuckDB's
``jaro_winkler_similarity`` / ``jaro_similarity`` builtins — required so
the catalog row can sit under the driver's value-hash oracle.  The
arrangement of the float arithmetic is therefore pinned:

    jaro = (m/l1 + m/l2 + (m-t)/m) / 3.0
    jw   = jaro + (p*0.1)*(1.0 - jaro)   when jaro > 0.7 else jaro

with m (greedy window matches), t (half transpositions, floor), p (common
prefix, capped at 4) exact small integers — each term is one IEEE
division/multiply of exact integers, so any engine evaluating the same
tree rounds identically.  Verified bit-for-bit against DuckDB on 20k
random pairs plus the Hypothesis property suite
(tests/test_kernel_jaro.py).  Edge conventions follow DuckDB: any empty
side (including both empty) scores 0.0; m == 0 scores 0.0.

The batch variant vectorizes across the pair axis (loops run over
character positions only, O(maxlen * window) full-batch numpy ops) — the
same no-per-row-Python discipline as kernels/distance_np.py.
"""

from __future__ import annotations

import numpy as np

from .distance_np import _PAD1, _PAD2, _codepoint_matrix

WINKLER_SCALING = 0.1
WINKLER_BOOST = 0.7
WINKLER_MAX_PREFIX = 4


def jaro_similarity(s1: str, s2: str) -> float:
    """Scalar spec kernel (the batch variant is property-tested against
    this; this is tested bitwise against DuckDB)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m2 = [False] * l2
    m1 = [False] * l1
    m = 0
    for i, c in enumerate(s1):
        lo = i - window if i > window else 0
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def jaro_winkler_similarity(s1: str, s2: str) -> float:
    j = jaro_similarity(s1, s2)
    p = 0
    for a, b in zip(s1[:WINKLER_MAX_PREFIX], s2[:WINKLER_MAX_PREFIX]):
        if a != b:
            break
        p += 1
    if j > WINKLER_BOOST:
        return j + (p * WINKLER_SCALING) * (1.0 - j)
    return j


def jaro_winkler_batch(s1_list, s2_list) -> np.ndarray:
    """Batched Jaro-Winkler: float64 array, elementwise identical to
    ``jaro_winkler_similarity`` (numpy elementwise ops are the same IEEE
    doubles as the scalar arithmetic, in the same pinned order)."""
    B = len(s1_list)
    if B == 0:
        return np.zeros(0, dtype=np.float64)
    len1 = np.fromiter((len(s) for s in s1_list), dtype=np.int64, count=B)
    len2 = np.fromiter((len(s) for s in s2_list), dtype=np.int64, count=B)
    L1 = int(len1.max()) if B else 0
    L2 = int(len2.max()) if B else 0
    A = _codepoint_matrix(list(s1_list), len1, L1, _PAD1)
    Bm = _codepoint_matrix(list(s2_list), len2, L2, _PAD2)

    window = np.maximum(np.maximum(len1, len2) // 2 - 1, 0)
    m1 = np.zeros((B, max(L1, 1)), dtype=bool)
    m2 = np.zeros((B, max(L2, 1)), dtype=bool)
    rows = np.arange(B)
    for i in range(L1):
        active = i < len1
        c = A[:, i] if L1 else np.full(B, _PAD1)
        lo = np.maximum(i - window, 0)
        hi = np.minimum(len2, i + window + 1)
        done = ~active
        span = int(np.max(hi - lo)) if B else 0
        for jo in range(max(span, 0)):
            j = np.minimum(lo + jo, max(L2 - 1, 0))
            valid = (lo + jo < hi) & ~done
            ok = valid & ~m2[rows, j] & (Bm[rows, j] == c)
            if ok.any():
                m1[ok, i] = True
                m2[rows[ok], j[ok]] = True
            done |= ok

    m = m1.sum(axis=1).astype(np.int64)

    # transpositions: gather matched codepoints of each side in index
    # order, compare position-wise (both gathers have exactly m entries)
    mmax = int(m.max()) if B else 0
    t = np.zeros(B, dtype=np.int64)
    if mmax:
        X = np.full((B, mmax), _PAD1, dtype=np.int32)
        Y = np.full((B, mmax), _PAD2, dtype=np.int32)
        pos1 = np.cumsum(m1, axis=1) - 1
        pos2 = np.cumsum(m2, axis=1) - 1
        r1, c1 = np.nonzero(m1)
        X[r1, pos1[r1, c1]] = A[r1, c1]
        r2, c2 = np.nonzero(m2)
        Y[r2, pos2[r2, c2]] = Bm[r2, c2]
        k = np.arange(mmax)[None, :]
        t = (((X != Y) & (k < m[:, None])).sum(axis=1) // 2).astype(np.int64)

    # jaro with the pinned arrangement; m == 0 (covers empty sides) -> 0.0
    safe_m = np.maximum(m, 1)
    safe_l1 = np.maximum(len1, 1)
    safe_l2 = np.maximum(len2, 1)
    jaro = (m / safe_l1 + m / safe_l2 + (m - t) / safe_m) / 3.0
    jaro = np.where((m == 0) | (len1 == 0) | (len2 == 0), 0.0, jaro)

    # common prefix capped at WINKLER_MAX_PREFIX
    pw = min(WINKLER_MAX_PREFIX, L1, L2)
    if pw > 0:
        eq = A[:, :pw] == Bm[:, :pw]
        p = np.cumprod(eq, axis=1).sum(axis=1).astype(np.int64)
    else:
        p = np.zeros(B, dtype=np.int64)
    jw = np.where(jaro > WINKLER_BOOST,
                  jaro + (p * WINKLER_SCALING) * (1.0 - jaro), jaro)
    return jw.astype(np.float64)
