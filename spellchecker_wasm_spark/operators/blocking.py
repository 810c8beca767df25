"""Blocking stage: explode SymSpell delete-neighborhood keys.

The reference's ``deletes`` HashMap (sym_spell.rs:59, built at :243-261)
becomes a DataFrame ``blocks(block_key, term, …)``.  Joining on the delete
*string* is collision-free (the reference hashes and tolerates collisions,
:55-58); downstream distance verification exists either way.

Scale design (SURVEY.md §7 stage 5): key fan-out is bounded by prefix
truncation to O(prefix_len^med) ≈ 29 keys/term; the key distribution is
Zipf-like with super-node keys (short prefixes, the empty key from ≤med
terms), handled by the posting-cap with logged drop accounting and AQE
skew-join splitting at pair time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.delete_expr import delete_keys_array


def build_blocks(terms: DataFrame) -> DataFrame:
    """(…, term) → (term, block_key) — one row per delete key.

    Key generation is the pure-Catalyst combinatorial expression
    (functions/delete_expr.py) — set-identical to the recursive reference
    kernel but whole-stage-codegen'd JVM string ops, no Python worker.
    The expression returns a deduplicated key array per term, so no
    distinct() is needed when `terms` is term-unique.  Edit distance 2
    and prefix length 7 match ``LinkageConfig``'s defaults.
    """
    return terms.select("term", F.explode(
        delete_keys_array(F.col("term"), 2, 7)).alias("block_key"))


def cap_hot_blocks(blocks: DataFrame, max_block_size: int,
                   key_col: str = "block_key") -> tuple[DataFrame, DataFrame]:
    """Drop super-node blocking keys whose posting list exceeds
    ``max_block_size``; returns (capped_blocks, dropped_stats).

    Pair generation is quadratic in posting size, so a handful of hot keys
    (e.g. ``""`` and 1-2 char prefixes) dominate cost while contributing
    almost no discriminating power — every pair they would produce at
    distance ≤ med is also produced by a longer shared key unless both
    strings are that short.  The anti-join is a broadcast of only the hot
    keys (heavy hitters are few by definition), so the big side never
    reshuffles.  Dropped keys/rows are returned for lineage accounting —
    never silently.
    """
    counts = blocks.groupBy(key_col).agg(F.count(F.lit(1)).alias("block_size"))
    hot = counts.where(F.col("block_size") > max_block_size)
    capped = blocks.join(F.broadcast(hot.select(key_col)), key_col, "left_anti")
    return capped, hot
