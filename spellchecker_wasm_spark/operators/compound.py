"""Distributed ``lookup_compound`` (reference sym_spell.rs:523-676).

The compound algorithm is inherently sequential per document (``last_combi``
state, ordered suggestion_parts), so it cannot be a set-oriented plan —
SURVEY.md §2.8 maps it to a grouped/batched pandas execution.  Design:

* the (words, bigrams) dictionaries are collected once on the driver and
  **broadcast**; the delete-neighborhood index is NOT shipped — each
  executor rebuilds it lazily from the word list (one-time ~seconds) and
  caches it per broadcast id, cutting broadcast bytes ~10×;
* documents stream through ``mapInPandas`` so Python cost is amortized over
  whole Arrow batches of documents; per-token work inside uses the
  golden-verified kernel.

This is the one operator where per-row Python is irreducible: the reference
algorithm's control flow is a data-dependent sequential scan per document.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.symspell import SymSpellKernel
from .skew import fan_out

# keyed by a driver-generated uuid captured in the task closure — NOT by
# id(broadcast): every task deserializes a fresh Broadcast object, so an
# object-address key never hits across tasks, and a reused Python worker
# could even see a *different* job's Broadcast allocated at the same
# address (silently returning a kernel built from the wrong dictionaries).
# Bounded LRU-ish (insertion-order evict): a reused Python worker can
# interleave tasks from several concurrent compound jobs; a single-slot
# cache would make each batch evict the other job's kernel and rebuild
# the full delete index per batch — a silent performance cliff.
_KERNEL_CACHE: dict[str, SymSpellKernel] = {}
_KERNEL_CACHE_SLOTS = 4

# Hard bound on the driver-side dictionary collect.  lookup_compound's
# dictionary is a *language model* (10^5-10^6 terms for a natural
# language, reference frequency_dictionary_en_82_765), NOT the corpus
# vocabulary — at web scale the raw token vocabulary is Heaps-law large
# and must be cut by count_threshold (sym_spell.rs:45,112-133) before it
# reaches the driver.  2M terms * ~100B/Row keeps the collect under a
# few hundred MB of driver heap.
_MAX_DICT_TERMS = 2_000_000


def _cache_put(token: str, kernel: SymSpellKernel) -> None:
    while len(_KERNEL_CACHE) >= _KERNEL_CACHE_SLOTS:
        _KERNEL_CACHE.pop(next(iter(_KERNEL_CACHE)))
    _KERNEL_CACHE[token] = kernel


def _collect_dict(df: DataFrame, key_col: str, count_threshold: int,
                  max_terms: int) -> dict[str, int]:
    """Bounded driver collect of a (term/bigram, count) dictionary.

    Applies the reference's count_threshold promotion filter
    (sym_spell.rs:45: terms below the threshold never become dictionary
    entries) and then refuses — rather than silently truncating, which
    would change lookup semantics — to collect more than ``max_terms``
    rows.  The limit(max_terms+1) bounds the transfer itself, so the
    driver never materializes an unbounded vocabulary even on the
    failing path."""
    if count_threshold > 1:
        df = df.where(F.col("count") >= count_threshold)
    # Arrow-native transfer: ~2x faster than the row-based collect for
    # the 10^4-10^6-term dictionaries this path moves — the same bytes,
    # columnar instead of pickled Rows
    tbl = df.select(key_col, "count").limit(max_terms + 1).toArrow()
    if tbl.num_rows > max_terms:
        raise ValueError(
            f"dictionary exceeds {max_terms} terms after "
            f"count_threshold={count_threshold}; raise count_threshold "
            f"(reference sym_spell.rs:45) — a corpus-derived vocabulary "
            f"is not a language model")
    return dict(zip(tbl.column(key_col).to_pylist(),
                    tbl.column("count").to_pylist()))


def kernel_from_counts(words: dict[str, int], bigrams: dict[str, int] | None,
                       max_edit_distance: int = 2,
                       prefix_length: int = 7) -> SymSpellKernel:
    """Build an in-memory kernel from final-state dictionaries (threshold
    promotion already applied upstream by aggregate_word_counts)."""
    k = SymSpellKernel(max_edit_distance, prefix_length, 1)
    for term, count in words.items():
        k.create_dictionary_entry(term, count)
    if bigrams:
        k.bigrams = dict(bigrams)
        k.bigram_count_min = min(bigrams.values())
        # direct bigram assignment bypasses write_line_to_bigram_dictionary,
        # so invalidate the bigram-dependent compound-decision memo here
        k._part_cache.clear()
    return k


def _map_with_kernel(docs: DataFrame, text_col: str,
                     id_cols: tuple[str, ...], kernel_args: tuple,
                     fields: list[T.StructField], apply) -> DataFrame:
    """The compound operators' harness: broadcast the collected
    ``kernel_from_counts`` arguments, build the kernel once per executor
    (cached by a per-call token), and stream the documents through
    ``fan_out().mapInPandas``.  ``apply(kernel, texts)`` returns one
    list per output field, aligned with the batch's texts."""
    import uuid
    bc = docs.sparkSession.sparkContext.broadcast(kernel_args)
    cache_token = uuid.uuid4().hex
    schema = T.StructType([docs.schema[c] for c in id_cols] + fields)
    # text_col may itself be an id column (e.g. probe tables keyed by the
    # probe text) — select each column once
    cols = list(dict.fromkeys(list(id_cols) + [text_col]))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _KERNEL_CACHE.get(cache_token)
        if kernel is None:
            kernel = kernel_from_counts(*bc.value)
            _cache_put(cache_token, kernel)
        for pdf in batches:
            out = pdf[list(id_cols)].copy() if id_cols else pd.DataFrame(
                index=pdf.index)
            for field, values in zip(fields,
                                     apply(kernel, list(pdf[text_col]))):
                out[field.name] = values
            yield out

    return fan_out(docs.select(cols)).mapInPandas(fn, schema)


def compound_correct(docs: DataFrame, text_col: str, words_df: DataFrame,
                     bigrams_df: DataFrame | None = None,
                     max_edit_distance: int = 2, prefix_length: int = 7,
                     id_cols: tuple[str, ...] = (),
                     count_threshold: int = 1,
                     max_dict_terms: int = _MAX_DICT_TERMS) -> DataFrame:
    """docs(…, text) → (…, corrected, distance, count): exactly one
    correction row per document (lookup_compound always returns 1 item,
    sym_spell.rs:675).  The dictionary collect is threshold-filtered and
    hard-bounded (see _collect_dict)."""
    words = _collect_dict(words_df, "term", count_threshold, max_dict_terms)
    bigrams = (_collect_dict(bigrams_df, "bigram", count_threshold,
                             max_dict_terms)
               if bigrams_df is not None else None)

    def correct(kernel: SymSpellKernel, texts: list) -> tuple[list, ...]:
        # per-doc sequential correction (irreducible), but the final
        # assembly distance — an UNBOUNDED full-document OSA
        # (sym_spell.rs:663-676) that dominated the wall at ~16ms per
        # 300-char doc — runs once per batch as a numpy DP vectorized
        # across documents (exact per-pair equality with the scalar
        # is property-tested)
        parts = [kernel.lookup_compound_joined(t, max_edit_distance)
                 if t is not None else None
                 for t in texts]
        pair_t = [t if p is not None else "" for t, p in zip(texts, parts)]
        pair_j = [p[0] if p is not None else "" for p in parts]
        dists = _osa_batch_unbounded(pair_t, pair_j)
        return ([p[0] if p else None for p in parts],
                [max(int(d), 0) if p is not None else None
                 for p, d in zip(parts, dists)],
                [min(int(p[1]), 2**63 - 1) if p else None for p in parts])

    return _map_with_kernel(
        docs, text_col, id_cols,
        (words, bigrams, max_edit_distance, prefix_length),
        [T.StructField("corrected", T.StringType()),
         T.StructField("distance", T.LongType()),
         T.StructField("count", T.LongType())],
        correct)


def _osa_batch_unbounded(a: list, b: list):
    """Exact unbounded OSA per pair via escalating-band batched DP.

    The corrected document differs from its input at every stripped
    punctuation mark, so the per-pair prefix/suffix strip barely shrinks
    the cores and a max-length band makes the batched DP quadratic in
    document length (measured 5.8s for 5000 sf0.1 docs).  True final
    distances are tiny (p99 = 6 there), so run the band at 16 and
    re-run only the unresolved pairs (osa_batch returns -1 beyond the
    bound — never a wrong value) at 4× the bound until none remain;
    termination is guaranteed once the bound reaches the max pair
    length, where the band is the full matrix.  Exactness therefore
    reduces to osa_batch's own (property-tested) banded-DP contract.
    Measured 1.03s on the same 5000 docs."""
    import numpy as np

    from ..kernels.distance_np import osa_batch
    n = len(a)
    out = np.full(n, -1, dtype=np.int64)
    todo = np.arange(n)
    bound = 16
    while len(todo):
        res = osa_batch([a[i] for i in todo], [b[i] for i in todo],
                        bound)
        out[todo] = res
        todo = todo[res < 0]
        if not len(todo):
            break
        maxneed = max(max(len(a[i]), len(b[i])) for i in todo)
        if bound >= maxneed:
            break
        bound = min(bound * 4, maxneed)
    return out


def segment_texts(docs: DataFrame, text_col: str, words_df: DataFrame,
                  max_edit_distance: int = 0, prefix_length: int = 7,
                  id_cols: tuple[str, ...] = (),
                  count_threshold: int = 1,
                  max_dict_terms: int = _MAX_DICT_TERMS) -> DataFrame:
    """Distributed word_segmentation (the intended semantics of the
    reference's dead-code sym_spell.rs:692-775 — see the kernel docstring
    for the five transliteration defects repaired): docs(…, text) →
    (…, segmented, corrected, distance).  Same broadcast-dictionary /
    per-executor-index harness as compound_correct."""
    words = _collect_dict(words_df, "term", count_threshold, max_dict_terms)

    def segment(kernel: SymSpellKernel, texts: list) -> list[list]:
        res = [kernel.word_segmentation(t, max_edit_distance)
               if t is not None else (None, None, None)
               for t in texts]
        return [[r[i] for r in res] for i in range(3)]

    return _map_with_kernel(
        docs, text_col, id_cols,
        (words, None, max(max_edit_distance, 2), prefix_length),
        [T.StructField("segmented", T.StringType()),
         T.StructField("corrected", T.StringType()),
         T.StructField("distance", T.LongType())],
        segment)
