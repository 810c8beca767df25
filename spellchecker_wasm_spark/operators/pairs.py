"""Candidate pair generation: self-join of the blocks table on block_key.

This is the reference's delete-key hash probe (sym_spell.rs:379-507) made
symmetric: instead of query-side BFS probing a dictionary index, both sides
carry their full delete neighborhoods and the equi-join emits every pair
sharing a key — SymSpell's guarantee makes this lossless for pairs within
the configured distance (property-tested in tests/test_kernel_deletes.py).

Shuffle notes: the join shuffles both sides by block_key once; AQE splits
skewed partitions.  The cheap length-window predicate
(sym_spell.rs:306-308,387-394) is applied as a join condition so Catalyst
evaluates it before the expensive scoring stage, and pair dedup
(``dedup_pairs``) mirrors the reference's ``suggestions_considered`` set
(sym_spell.rs:327-331,441-443) — dedup-before-DP.

The linkage pipeline does not self-join page-level keys: it self-joins
the keys of the token-prefix VOCABULARY and expands the distinct prefix
pairs to pages (pipeline/linkage.pairs_stage), then runs the same
``dedup_pairs`` tail.  ``candidate_pairs`` is the flat form the
vocabulary catalog rows run and the two-level plan is tested against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# build-side hint of the slim id self-join (candidate_pairs docstring)
_SELF_JOIN_HINT = "shuffle_hash"


def candidate_pairs(blocks: DataFrame, id_col: str = "term",
                    term_col: str = "term",
                    max_len_diff: int = 2,
                    dim: DataFrame | None = None,
                    len_col: str | None = None,
                    attach_terms: bool = True,
                    prefilter_band: int | None = None) -> DataFrame:
    """blocks(block_key, id, term) self-join → (id_a, id_b, term_a, term_b)
    with id_a < id_b, deduplicated across shared keys.

    Shuffle-width design: the pre-dedup join output is the volume monster
    (Σ block_size² rows), so it carries only (id_a, id_b) — the length
    prefilter uses a precomputed int column instead of the term string, and
    the term payloads are attached AFTER dedup via a join against the
    (id, term) dimension.  Measured on the 60k-page bench this cuts the
    dedup shuffle from wide string rows to two ids.

    ``dim``: optional id-unique (id, term) table.  When the caller already
    has one (the pages table in the linkage pipeline), pass it — deriving
    the dimension from ``blocks`` costs a dropDuplicates shuffle over the
    exploded key table per payload join (2 × ~40× the page count), and a
    caller-supplied dimension is also what AQE can broadcast.  Measured
    2.8× faster on the sf0.1 pipeline (10.1s → 3.6s warm for the pair
    stage).

    ``len_col``: optional precomputed term-length int column in ``blocks``.
    With it (and ``dim``), blocks need not carry the term string at all —
    the ~80×-fan-out explode and the self-join shuffle move (id:long,
    key:string, len:int) rows instead of dragging the title payload
    through every exchange (~2× narrower at web-page title widths).

    ``prefilter_band`` (slim id-path only, requires ``dim``): apply the
    lossless banded-Levenshtein verification prefilter *before* the pair
    ``distinct()`` instead of after it: term payloads are attached to the
    raw self-join emit via *broadcast* probes (zero exchange) and
    ``F.levenshtein(a, b, band)`` (band = ``2·max_edit_distance``, the
    OSA ≤ lev ≤ 2·OSA envelope score_pairs documents) discards
    non-matches first, so the distinct exchanges only surviving rows
    (43.8M → 2.18M on the 1.8M-page linkage input) and the downstream
    payload joins shrink the same way.  Downstream MUST then call
    score_pairs(jvm_prefilter=False) — the filter is identical and
    already applied.  MEASURED OUTCOME (1.8M pages, 8 pinned cores,
    A/B same host window): end-to-end LOSS — block 67.9 → 114.8s
    (+380 core-s: two broadcast-hash probes plus one banded DP per
    *emitted* pair, i.e. per shared key, ~5× the per-distinct-pair
    verification work) vs score 22.4 → 7.6s; net 102 → 134s.  The slim
    16-byte dedup exchange is cheaper than the work that avoids it —
    lz4'd long-pairs move at memory speed while the emit-side DP pays
    the full duplication factor.  Kept as an opt-in (oracle-checked:
    queries.py candidate_pairs_prefilter) for shapes where the dedup
    exchange genuinely bottlenecks (disk-spilling shuffles, very high
    dup factors with short strings).  Broadcast bound: the (id, term)
    dim must fit a broadcast (~60 B/page: fine to ~50M pages per
    executor heap); past that, carry the term through the key explode
    instead (the documented cluster-scale fallback) or leave this off.

    Self-join strategy (slim id-path only): the build side carries a
    ``shuffle_hash`` hint, replacing the sort-merge self-join — both
    sides are the same table, so the SMJ's two 20M-row sorts are pure
    overhead over a per-partition hash build whose build side is bounded
    by the hot-key cap (≤ max_block_size rows per key × keys per
    partition; partition counts scale with data, so the build stays
    executor-memory-sized at any cluster size).  Measured on the
    600k-page protocol input at 8 pinned cores: 59.6s → 36.9s for the
    block+pair stage.  A persisted ``blocks`` frame reports no
    partitioning under the session's
    canChangeCachedPlanOutputPartitioning, so the join shuffles both
    sides.  The term path takes
    no hint: its inputs are vocabulary-sized, where auto-broadcast beats
    a forced SHJ.
    """
    if id_col == term_col:
        a = blocks.select(F.col(term_col).alias("term"), "block_key").alias("a")
        b = blocks.select(F.col(term_col).alias("term"), "block_key").alias("b")
        cond = ((F.col("a.block_key") == F.col("b.block_key"))
                & (F.col("a.term") < F.col("b.term"))
                & (F.abs(F.length("a.term") - F.length("b.term"))
                   <= max_len_diff))
        return (a.join(b, cond)
                .select(F.col("a.term").alias("id_a"),
                        F.col("b.term").alias("id_b"),
                        F.col("a.term").alias("term_a"),
                        F.col("b.term").alias("term_b"))
                .distinct())

    if len_col is not None and dim is None:
        raise ValueError("len_col requires a caller-supplied dim "
                         "(blocks carry no term payload to derive one)")
    tl = F.col(len_col) if len_col else F.length(term_col)
    slim = blocks.select(F.col(id_col).alias("id"), "block_key",
                         tl.alias("tl"))
    a = slim.alias("a")
    b = slim.hint(_SELF_JOIN_HINT).alias("b")
    cond = ((F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.abs(F.col("a.tl") - F.col("b.tl")) <= max_len_diff))
    emitted = (a.join(b, cond)
               .select(F.col("a.id").alias("id_a"),
                       F.col("b.id").alias("id_b")))
    if prefilter_band is not None and dim is None:
        raise ValueError("prefilter_band requires a caller-supplied dim")
    if dim is None:
        dim = (blocks.select(F.col(id_col).alias("id"),
                             F.col(term_col).alias("term"))
               .dropDuplicates(["id"]))
    return dedup_pairs(emitted, dim, prefilter_band, attach_terms)


def dedup_pairs(emitted: DataFrame, dim: DataFrame,
                prefilter_band: int | None = None,
                attach_terms: bool = True) -> DataFrame:
    """The pair-emit tail every id-pair generator shares: emitted
    (id_a, id_b) rows, id_a < id_b with repeats → [banded-Levenshtein
    prefilter] → distinct → [term payloads].

    ``dim``: id-unique (id, term) table the payloads (and the
    prefilter's terms) come from.  ``prefilter_band``: see
    candidate_pairs; the prefilter runs on the emitted rows, before the
    distinct, through broadcast probes of ``dim``."""
    if prefilter_band is not None:
        wide = (emitted
                .join(F.broadcast(dim.select(F.col("id").alias("id_a"),
                                             F.col("term").alias("term_a"))),
                      "id_a")
                .join(F.broadcast(dim.select(F.col("id").alias("id_b"),
                                             F.col("term").alias("term_b"))),
                      "id_b"))
        emitted = (wide.where(F.levenshtein(F.col("term_a"), F.col("term_b"),
                                            prefilter_band)
                              .between(0, prefilter_band))
                   .select("id_a", "id_b"))
    ids = emitted.distinct()
    if not attach_terms:
        return ids
    return attach_pair_terms(ids, dim)


def weighted_candidate_pairs(blocks: DataFrame, id_col: str = "id",
                             max_len_diff: int = 2,
                             len_col: str | None = None,
                             min_weight: int = 1) -> DataFrame:
    """Meta-blocking edge weighting (the common-blocks scheme of
    Papadakis et al., "Meta-Blocking: Taking Entity Resolution to the
    Next Level", TKDE 2014): the self-join's per-shared-key emits are
    AGGREGATED instead of deduplicated, so each surviving pair carries
    ``weight`` = |shared block keys| — the signal redundancy-positive
    blocking (delete neighborhoods, q-grams, multi-pass SNM) provides
    for free.  Pairs below ``min_weight`` are pruned BEFORE
    verification, cutting the expensive scoring stage's input.  The
    trade is real, not free: most false candidates share exactly one
    key, but so do boundary-distance TRUE matches (measured on the
    labeled linkage fixture at sf0.01: weight>=2 removes 98.8% of
    false pairs and 20.4% of true pairs — queries.meta_blocking pins
    the distribution) — so weight is best used to ROUTE pairs between
    verifiers or to prune under an explicit recall budget.

    blocks(id, block_key[, len]) → (id_a, id_b, weight) with
    id_a < id_b, weight >= min_weight.

    Scale shape vs candidate_pairs: identical slim self-join (the
    (id:long, key, len:int) projection, same shuffle_hash hint), but the
    dedup ``distinct()`` becomes a groupBy count with map-side partial
    aggregation — the exchange moves the same 16-byte id pairs plus one
    long, and the weight filter then shrinks the verification join's
    probe side by the pruned fraction.  Weight equals the count of
    shared keys exactly when each side's per-id key set is distinct
    (delete_key_hash_explode and the oracle's blocks CTE both
    guarantee this).  ``len_col``: precomputed term-length int column
    for the cheap length-window prefilter; omit to skip the filter."""
    cols = ["block_key"] + ([len_col] if len_col else [])
    slim = blocks.select(F.col(id_col).alias("id"), *cols)
    a = slim.alias("a")
    b = slim.hint(_SELF_JOIN_HINT).alias("b")
    cond = ((F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.id") < F.col("b.id")))
    if len_col:
        cond = cond & (F.abs(F.col(f"a.{len_col}") - F.col(f"b.{len_col}"))
                       <= max_len_diff)
    w = (a.join(b, cond)
         .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
         .agg(F.count(F.lit(1)).alias("weight")))
    if min_weight > 1:
        w = w.where(F.col("weight") >= min_weight)
    return w


def attach_pair_terms(ids: DataFrame, dim: DataFrame) -> DataFrame:
    """(id_a, id_b) + id-unique dim(id, term) → (id_a, id_b, term_a,
    term_b) via two broadcastable dimension joins.  Split out of
    candidate_pairs so callers can checkpoint/cache the SLIM id pairs
    (16 bytes/row) and re-attach payloads lazily where they are consumed
    — caching the wide form costs ~10× the bytes and a second pass over
    the payload joins (measured: the round-2 bench spent ~30s of its
    8-core block stage materializing wide pairs the streaming pipeline
    never builds)."""
    return (ids
            .join(dim.select(F.col("id").alias("id_a"),
                             F.col("term").alias("term_a")), "id_a")
            .join(dim.select(F.col("id").alias("id_b"),
                             F.col("term").alias("term_b")), "id_b"))
