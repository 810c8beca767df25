"""Arrow-batched pandas UDFs bridging the parity kernels into Spark.

These are the ONLY places Python executes in the distributed plans
(input_hint mandate: vectorized pandas/Arrow UDFs, no per-row Python).
Everything else in the operators is built-in Catalyst expressions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..kernels.distance_np import osa_batch
from ..kernels.text import parse_words


def osa_distance_udf(max_distance: int):
    """Column function: bounded Damerau-OSA distance, NULL when above the
    bound — the reference's verification join-filter (sym_spell.rs:445-450)
    as one vectorized numpy batch per Arrow chunk."""

    @pandas_udf(T.IntegerType())
    def _osa(s1: pd.Series, s2: pd.Series) -> pd.Series:
        d = osa_batch(s1.tolist(), s2.tolist(), max_distance)
        out = pd.Series(d, index=s1.index, dtype="int64")
        return out.where(out >= 0, other=None).astype("Int32")

    # semantically deterministic; marked nondeterministic ONLY to stop
    # Catalyst duplicating the (expensive) UDF into both the projection and
    # the null-filter — halves Python compute in the scoring stage
    return _osa.asNondeterministic()


def jaro_winkler_udf():
    """Column function: Jaro-Winkler similarity (float64), bit-identical
    to DuckDB's ``jaro_winkler_similarity`` on ASCII inputs (the kernel is
    codepoint-based; DuckDB's builtin walks UTF-8 bytes, so non-ASCII
    diverges — kernels/jaro.py docstring, pinned in
    tests/test_kernel_jaro.py).  One vectorized numpy batch per Arrow
    chunk; no per-row Python."""
    from ..kernels.jaro import jaro_winkler_batch

    @pandas_udf(T.DoubleType())
    def _jw(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return pd.Series(jaro_winkler_batch(s1.tolist(), s2.tolist()),
                         index=s1.index)

    # same Catalyst-duplication guard as osa_distance_udf: the projection
    # and the threshold filter must share ONE Python exchange
    return _jw.asNondeterministic()


@pandas_udf(T.ArrayType(T.StringType()))
def parse_words_udf(texts: pd.Series) -> pd.Series:
    """Reference-quirk tokenizer (sym_spell.rs:191-214) as array<string>.
    Regex cannot express the leading-separator quirk; the kernel scan runs
    per batch."""
    return texts.map(lambda t: parse_words(t) if t is not None else [])


def soft_tfidf_dot_udf(theta: float):
    """Column function: the unnormalized Soft-TFIDF dot product (Cohen,
    Ravikumar & Fienberg, IIWeb 2003) over two parallel (tokens, integer
    IDF weights) array pairs — Σ over A's tokens (array order) of
    w_a · max_u∈B [ jw(t,u) · w_u  if jw(t,u) > θ else 0 ].

    The max-PRODUCT form (max over jw·w_u) replaces the paper's argmax
    token so the measure is tie-free: a max over doubles is
    order-insensitive, where "weight of the argmax token" depends on
    which of two equal-jw tokens an engine scans first.

    Exactness contract (so the catalog row sits under the value-hash
    oracle): the inner jw is kernels/jaro.jaro_winkler_batch —
    bit-identical to DuckDB's builtin on ASCII inputs — each candidate
    is one jw·w_u double multiply, the per-token max is over doubles,
    the contribution is one w_a·best multiply, and the accumulation
    runs LEFT-TO-RIGHT over A's array order (np.add.reduceat applies
    the ufunc sequentially within a segment ≡ DuckDB list_reduce), so
    every float op is the same IEEE op in the same order on both
    engines.

    Vectorization: per Arrow batch the ragged (a-token × b-token) cross
    pairs are packed once (linear-time Python packing), the jw kernel
    runs ONE numpy batch over all pairs, and the two reductions are
    np.maximum.reduceat / np.add.reduceat segment ops — no per-row
    Python in the O(cap²)·O(len²) hot path.  Both token arrays are
    guaranteed non-empty by the callers' size(toks) > 0 filters
    (reduceat's empty-segment quirk never fires)."""
    import numpy as np

    from ..kernels.jaro import jaro_winkler_batch

    @pandas_udf(T.DoubleType())
    def _dot(ta: pd.Series, wa: pd.Series, tb: pd.Series,
             wb: pd.Series) -> pd.Series:
        s1: list[str] = []
        s2: list[str] = []
        w2: list[int] = []
        w1: list[int] = []
        a_seg: list[int] = []   # per a-token: its candidate count |B|
        row_nt: list[int] = []  # per row: its a-token count |A|
        for A, WA, Bt, WB in zip(ta.tolist(), wa.tolist(),
                                 tb.tolist(), wb.tolist()):
            row_nt.append(len(A))
            for t, w in zip(A, WA):
                w1.append(w)
                a_seg.append(len(Bt))
                s1.extend(t for _ in Bt)
                s2.extend(Bt)
                w2.extend(WB)
        jw = jaro_winkler_batch(s1, s2)
        v = np.where(jw > theta,
                     jw * np.asarray(w2, dtype=np.float64), 0.0)
        seg = np.asarray(a_seg, dtype=np.int64)
        if len(seg):
            starts = np.zeros(len(seg), dtype=np.int64)
            np.cumsum(seg[:-1], out=starts[1:])
            best = np.maximum.reduceat(v, starts)
        else:
            best = np.zeros(0, dtype=np.float64)
        contrib = np.asarray(w1, dtype=np.float64) * best
        nt = np.asarray(row_nt, dtype=np.int64)
        if len(nt):
            rstarts = np.zeros(len(nt), dtype=np.int64)
            np.cumsum(nt[:-1], out=rstarts[1:])
            dots = np.add.reduceat(contrib, rstarts)
        else:
            dots = np.zeros(0, dtype=np.float64)
        return pd.Series(dots, index=ta.index)

    # same Catalyst-duplication guard as osa_distance_udf
    return _dot.asNondeterministic()


def affine_gap_udf():
    """Column function: Smith-Waterman-Gotoh local-alignment score with
    affine gaps (kernels/affine.py — all-integer scoring, so the value
    is EXACT on any engine; the DuckDB oracle runs the same recurrence
    as a recursive CTE).  One vectorized numpy batch per Arrow chunk;
    no per-row Python."""
    from ..kernels.affine import affine_gap_batch

    @pandas_udf(T.LongType())
    def _ag(s1: pd.Series, s2: pd.Series) -> pd.Series:
        return pd.Series(affine_gap_batch(s1.tolist(), s2.tolist()),
                         index=s1.index)

    # same Catalyst-duplication guard as osa_distance_udf
    return _ag.asNondeterministic()
