"""Pairwise scoring: vectorized banded Damerau-OSA over candidate pairs —
the reference's verification join-filter (sym_spell.rs:445-450 →
damerau_osa.rs:308-339).  One pandas-UDF implementation delegating to
the numpy kernel (kernels/distance_np.py), property-tested equal to the
scalar parity kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.udfs import osa_distance_udf


def osa_similarity(left, right, distance):
    """DamaerauOSA::similarity (damerau_osa.rs:182-214, converter
    helpers.rs:67-69): ``1 - distance / codepoint-length of the longer
    string`` — 1.0 for identical strings, 0.0 for no noteworthy
    similarity.  Reference quirk preserved: when either side is empty the
    early returns yield the *empty side's* length, i.e. 0.0, even for two
    empty (equal) strings.

    IEEE-deterministic: one int/int division + one subtraction, bit-equal
    across engines (the oracle computes the identical expression).
    """
    ln = F.greatest(F.length(left), F.length(right))
    sim = F.lit(1.0) - distance.cast("double") / ln.cast("double")
    return F.when((F.length(left) == 0) | (F.length(right) == 0),
                  F.lit(0.0)).otherwise(sim)


def osa_similarity2(left, right, distance, min_similarity: float):
    """DamaerauOSA::similarity2 (soft_wx/damerau_osa.rs:222-259) with its
    *documented* contract: the similarity when ≥ min_similarity, else -1.0
    ("-1 represents a similarity lower than minSimilarity", rs:219-221).

    The reference's actual code path is cascade-broken by the converter
    precedence bug (helpers.rs:76, ``(1.0 - s) as usize`` = 0 for any
    s ∈ (0, 1)): ``max_distance`` comes out 0, so similarity2 degenerates
    to "1.0 for byte-equal strings, None otherwise" for every
    min_similarity except exactly 0.0 — and panics (debug) / wraps
    (release) on ``str2_len - str1_len`` when string1 is longer, because
    the shorter-first swap its own comment promises was never written
    (rs:230-233).  Nothing in SymSpell calls it, so this op implements the
    intended thresholding; the faithful degenerate form is just
    ``when(left == right, 1.0).otherwise(-1.0)``.
    """
    sim = osa_similarity(left, right, distance)
    return F.when(sim >= F.lit(min_similarity), sim).otherwise(F.lit(-1.0))


def similarity_from_distance(distance, length):
    """helpers.rs:67-69: ``1 - distance/length``, None (→ NULL column) for
    negative distance — the banded DP's above-threshold sentinel."""
    d = distance.cast("double")
    return F.when(d >= 0, F.lit(1.0) - d / length.cast("double"))


def distance_from_similarity(similarity, length):
    """helpers.rs:75-77: ``length * (1 - similarity) as usize``.

    The reference casts ``(1.0 - similarity) as usize`` BEFORE multiplying
    (precedence bug, helpers.rs:76) so any similarity in (0, 1] yields
    distance 0 — the path is unreachable from SymSpell, so this computes
    the intended ``trunc(length * (1 - similarity))``.
    """
    return F.floor(length.cast("double")
                   * (F.lit(1.0) - similarity)).cast("long")


def score_pairs(pairs: DataFrame, left_col: str = "term_a",
                right_col: str = "term_b", max_distance: int = 2,
                keep_above_threshold: bool = False,
                jvm_prefilter: bool = True) -> DataFrame:
    """pairs → pairs + distance:int (filtered to ≤ max_distance unless
    keep_above_threshold, which yields NULL distances instead).  Pandas-UDF
    ArrowEvalPython plan: only (left, right) cross into Python and only the
    distance column returns — the narrow-exchange shape that measured
    fastest (2.5M pairs/s at 32 cores, against 0.85M for a mapInArrow
    scorer that returns whole rows).

    ``jvm_prefilter``: lossless candidate reduction BEFORE the Python
    exchange using Spark's codegen'd banded Levenshtein.  Since
    OSA ≤ lev ≤ 2·OSA (a transposition costs one OSA op but at most two
    Levenshtein ops), every pair with OSA ≤ d satisfies lev ≤ 2d — so
    ``levenshtein(a, b, 2d) ≤ 2d`` discards only true non-matches while
    running entirely inside whole-stage codegen.  On the linkage bench this
    cuts the Arrow exchange ~17× (2.29M candidate pairs → ~150k crossing
    into Python) with identical output distances.
    """
    osa = osa_distance_udf(max_distance)
    if jvm_prefilter and not keep_above_threshold:
        band = 2 * max_distance
        # threshold form returns -1 when the distance EXCEEDS the bound
        pairs = pairs.where(
            F.levenshtein(F.col(left_col), F.col(right_col), band)
            .between(0, band))
    scored = pairs.withColumn(
        "distance", osa(F.col(left_col), F.col(right_col)))
    if keep_above_threshold:
        return scored
    return scored.where(F.col("distance").isNotNull())
