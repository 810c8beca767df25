"""Smith-Waterman-Gotoh local alignment with affine gaps — the third
classic ER pair scorer next to the edit-distance family and
Jaro-Winkler (beyond-reference: Bilenko & Mooney, KDD 2003 established
affine-gap alignment for record-linkage fields where tokens get
truncated or abbreviated, which plain edit distance over-penalizes —
the reference scores only the OSA/Levenshtein family, SURVEY.md §2.6).

Exactness contract: ALL-INTEGER scoring, so any engine evaluating the
same recurrence agrees exactly with no float-arrangement pinning at
all.  Parameters (match +2, mismatch -1, gap-open -2 for the first gap
character, gap-extend -1 per further character) are the module
constants below; the DuckDB oracle inlines the same integers.

Recurrences (Gotoh 1982, local/Smith-Waterman form; X = gap in the
first string / horizontal move, Y = gap in the second / vertical):

    M[i][j] = max(0, max(M,X,Y)[i-1][j-1] + s(a_i, b_j))
    Y[i][j] = max(M[i-1][j] + OPEN, Y[i-1][j] + EXTEND)
    X[i][j] = max(M[i][j-1] + OPEN, X[i][j-1] + EXTEND)
    score   = max over i,j of M[i][j]        (0 when nothing aligns)

Boundary: M[0][*] = M[*][0] = 0 (a local alignment may start
anywhere), X and Y boundaries = -inf (a gap cannot open before any
aligned character).  Alignments END in M only — ending inside a gap
never helps because every gap column strictly lowers the score.

The batch variant vectorizes across the pair axis (loops run over
character positions only, O(L1·L2) full-batch numpy ops) — the same
no-per-row-Python discipline as kernels/jaro.jaro_winkler_batch, and
the same codepoint-matrix packer (kernels/distance_np).  The horizontal
X recurrence is the one sequential-in-j dependency; it runs as L2
full-batch column ops.
"""

from __future__ import annotations

import numpy as np

from .distance_np import _PAD1, _PAD2, _codepoint_matrix

AG_MATCH = 2
AG_MISMATCH = -1
AG_OPEN = -2    # first character of a gap
AG_EXTEND = -1  # each further gap character
_NEG = -1_000_000


def affine_gap(s1: str, s2: str) -> int:
    """Scalar spec kernel (the batch variant is property-tested against
    this; this is tested against hand-computed goldens and the DuckDB
    recursive-CTE oracle)."""
    l1, l2 = len(s1), len(s2)
    best = 0
    m_prev = [0] * (l2 + 1)
    x_prev = [_NEG] * (l2 + 1)
    y_prev = [_NEG] * (l2 + 1)
    for i in range(1, l1 + 1):
        m_cur = [0] * (l2 + 1)
        x_cur = [_NEG] * (l2 + 1)
        y_cur = [_NEG] * (l2 + 1)
        for j in range(1, l2 + 1):
            s = AG_MATCH if s1[i - 1] == s2[j - 1] else AG_MISMATCH
            m_cur[j] = max(0, max(m_prev[j - 1], x_prev[j - 1],
                                  y_prev[j - 1]) + s)
            y_cur[j] = max(m_prev[j] + AG_OPEN, y_prev[j] + AG_EXTEND)
            x_cur[j] = max(m_cur[j - 1] + AG_OPEN, x_cur[j - 1] + AG_EXTEND)
            if m_cur[j] > best:
                best = m_cur[j]
        m_prev, x_prev, y_prev = m_cur, x_cur, y_cur
    return best


def affine_gap_batch(s1_list, s2_list) -> np.ndarray:
    """Batched Smith-Waterman-Gotoh: int64 array, elementwise identical
    to ``affine_gap`` (pure integer max/add — no rounding anywhere)."""
    B = len(s1_list)
    if B == 0:
        return np.zeros(0, dtype=np.int64)
    len1 = np.fromiter((len(s) for s in s1_list), dtype=np.int64, count=B)
    len2 = np.fromiter((len(s) for s in s2_list), dtype=np.int64, count=B)
    L1 = int(len1.max())
    L2 = int(len2.max())
    if L1 == 0 or L2 == 0:
        return np.zeros(B, dtype=np.int64)
    A = _codepoint_matrix(list(s1_list), len1, L1, _PAD1)
    Bm = _codepoint_matrix(list(s2_list), len2, L2, _PAD2)

    m_prev = np.zeros((B, L2 + 1), dtype=np.int64)
    x_prev = np.full((B, L2 + 1), _NEG, dtype=np.int64)
    y_prev = np.full((B, L2 + 1), _NEG, dtype=np.int64)
    best = np.zeros(B, dtype=np.int64)
    # pads never equal real codepoints, so cells past a string's end can
    # only ever DESCEND from valid cells via penalties — masking `best`
    # to the valid rectangle is sufficient (and done for rigor)
    col_ok = np.arange(1, L2 + 1)[None, :] <= len2[:, None]
    for i in range(1, L1 + 1):
        s = np.where(Bm == A[:, i - 1][:, None], AG_MATCH, AG_MISMATCH)
        diag = np.maximum(np.maximum(m_prev[:, :-1], x_prev[:, :-1]),
                          y_prev[:, :-1])
        m_tail = np.maximum(0, diag + s)
        y_tail = np.maximum(m_prev[:, 1:] + AG_OPEN,
                            y_prev[:, 1:] + AG_EXTEND)
        m_cur = np.concatenate(
            [np.zeros((B, 1), dtype=np.int64), m_tail], axis=1)
        y_cur = np.concatenate(
            [np.full((B, 1), _NEG, dtype=np.int64), y_tail], axis=1)
        x_cur = np.full((B, L2 + 1), _NEG, dtype=np.int64)
        for j in range(1, L2 + 1):
            x_cur[:, j] = np.maximum(m_cur[:, j - 1] + AG_OPEN,
                                     x_cur[:, j - 1] + AG_EXTEND)
        ok = (i <= len1)[:, None] & col_ok
        best = np.maximum(best, np.where(ok, m_tail, 0).max(axis=1))
        m_prev, x_prev, y_prev = m_cur, x_cur, y_cur
    return best
