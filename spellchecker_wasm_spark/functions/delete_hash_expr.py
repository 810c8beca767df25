"""Hash-direct delete-neighborhood generation: emit the 64-bit blocking
hash of each delete variant WITHOUT materializing the variant string.

The linkage pipeline only ever consumes blocking keys as 64-bit hashes
(pipeline/linkage.py: ``xxhash64(k)`` immediately after the explode) — the
key string is scaffolding.  The string path
(delete_expr.delete_keys_of_prefix) builds ~29 concat(substring…) strings
per prefix and hashes each: ~29 string allocations + copies + a full
xxhash64 pass per prefix, and in the linkage shape it additionally ran
inside a ``transform`` lambda (higher-order functions are CodegenFallback
— evaluated interpreted, row at a time).  The two key-generation
substages measured ~200 CPU core-seconds of the 600k-page block stage's
~290 at 8 cores.

This variant computes, once per prefix row, the codepoint of each of the
``prefix_length`` positions (``ascii(substring(p, i, 1))``, NULL beyond
the actual length), then emits each mask's key hash as

    xxhash64(c_p1, c_p2, …, c_pm)      -- kept positions, in order

using two facts about Spark's multi-argument hash expressions:

* NULL arguments are skipped (the running hash passes through unchanged),
  so one static argument list per mask handles every actual prefix length
  — positions beyond ``length(prefix)`` contribute nothing, exactly like
  the string path's open-ended tail ``substring``;
* the running-hash fold over the argument sequence is a pure function of
  the sequence of non-null codepoints, i.e. of the VARIANT CONTENT — two
  different prefixes producing the same delete string produce the same
  argument sequence and therefore the same hash, which is the property
  blocking correctness rests on (tests/test_delete_hash_expr.py asserts
  string↔hash bijection over corpus vocabularies).

Everything — substring, ascii, when, xxhash64, array — is
whole-stage-codegen'd; there is no higher-order function and no string
larger than one character.  Collision semantics are unchanged from the
string path (which also reduced to xxhash64): a cross-content collision
adds a spurious candidate pair that scoring rejects.

Set semantics mirror delete_expr.delete_keys_of_prefix exactly, quirks
included (empty-key rule for short terms; the 1-byte early-return quirk on
the full-deletion mask) — the hash of the empty variant is the hash of the
empty argument sequence (the xxhash64 seed, a constant).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .delete_expr import (DEFAULT_MAX_EDIT_DISTANCE, DEFAULT_PREFIX_LENGTH,
                          _masks)


def delete_key_hashes_of_prefix(
        prefix: Column,
        max_edit_distance: int = DEFAULT_MAX_EDIT_DISTANCE,
        prefix_length: int = DEFAULT_PREFIX_LENGTH) -> Column:
    """array<long> of blocking-key hashes for an already prefix-truncated
    input — the hash-image of delete_expr.delete_keys_of_prefix
    (bijectively, barring ~2^-64 hash collisions).

    Requires prefix_length > max_edit_distance, like the string form.
    """
    if prefix_length <= max_edit_distance:
        raise ValueError("delete_key_hashes_of_prefix requires "
                         "prefix_length > max_edit_distance")
    pl = F.length(prefix)
    # codepoint of position i (1-based), NULL beyond the actual length —
    # computed once per row; Catalyst subexpression elimination shares
    # them across the ~29 mask hashes
    codes = [F.when(pl >= i, F.ascii(F.substring(prefix, i, 1)))
             for i in range(1, prefix_length + 1)]
    return _mask_hashes(codes, pl, F.octet_length(prefix),
                        max_edit_distance, prefix_length)


def _mask_hashes(codes: list[Column], pl: Column, ol: Column,
                 max_edit_distance: int, prefix_length: int) -> Column:
    """array<long>: the distinct delete-variant hashes of one prefix, from
    its per-position codepoint columns ``codes``, codepoint length ``pl``
    and octet length ``ol``."""
    # the undeleted prefix itself
    keys: list[Column] = [F.xxhash64(*codes)]
    for positions in _masks(max_edit_distance, prefix_length):
        maxpos = positions[-1]
        k = len(positions)
        kept = [codes[i - 1] for i in range(1, prefix_length + 1)
                if i not in positions]
        h = F.xxhash64(*kept) if kept else F.xxhash64(F.lit(None).cast('int'))
        if positions == tuple(range(1, k + 1)):
            # the only mask that can delete the WHOLE prefix (pl == k):
            # the recursive kernel emits "" there only if some prefix char
            # is multi-byte (sym_spell.rs:217-219) — same quirk condition
            # as the string path
            cond = (pl > maxpos) | ((pl == maxpos) & (ol > pl))
        else:
            cond = pl >= maxpos
        keys.append(F.when(cond, h))
    # terms of <= max_edit_distance codepoints key the empty variant
    # (sym_spell.rs:252-254): hash of the empty argument sequence
    keys.append(F.when(pl <= max_edit_distance,
                       F.xxhash64(F.lit(None).cast('int'))))
    return F.array_distinct(F.array_compact(F.array(*keys)))


def delete_key_hash_explode(df, prefix_col: str,
                            max_edit_distance: int = DEFAULT_MAX_EDIT_DISTANCE,
                            prefix_length: int = DEFAULT_PREFIX_LENGTH,
                            keep_cols: list[str] | None = None,
                            out_col: str = "block_key"):
    """df(…, prefix) → df(keep_cols…, block_key:long) — one row per
    distinct-per-prefix delete-variant hash.

    Two-projection physical shape: the per-position codepoints are
    materialized as real columns in a first Project, so the ~29 mask
    hashes in the Generate's array expression reference them as attribute
    slots instead of re-deriving ``when(pl>=i, ascii(substring(p,i,1)))``
    inside every mask (which defeats per-expression subexpression
    sharing — measured 2x on the 600k-page explode).
    """
    if prefix_length <= max_edit_distance:
        raise ValueError("delete_key_hash_explode requires "
                         "prefix_length > max_edit_distance")
    keep_cols = list(keep_cols or [])
    p = F.col(prefix_col)
    pl = F.length(p)
    code_names = [f"__c{i}" for i in range(1, prefix_length + 1)]
    staged = df.select(
        *keep_cols,
        pl.alias("__pl"),
        F.octet_length(p).alias("__ol"),
        *[F.when(pl >= i, F.ascii(F.substring(p, i, 1))).alias(n)
          for i, n in enumerate(code_names, start=1)])
    arr = _mask_hashes([F.col(n) for n in code_names], F.col("__pl"),
                       F.col("__ol"), max_edit_distance, prefix_length)
    return staged.select(*keep_cols, F.explode(arr).alias(out_col))
