"""Distributed SymSpell lookup — the reference's ``lookup``
(sym_spell.rs:286-517) re-expressed set-oriented over DataFrames.

Where the reference runs a per-query BFS with branch-and-bound
(max_edit_distance2 shrinking, sym_spell.rs:454-477), the set-oriented plan
computes every candidate ≤ max_edit_distance and applies the verbosity
policy as a window — provably the same result set because the pruned
branches can only contain suggestions at distances above the eventual
minimum (SURVEY.md §2.5 "early-termination scan order").

Reference quirks preserved:
* 1-codepoint suggestions score ``input_len`` — the inverted-contains
  branch (sym_spell.rs:430-436) always sees a suggestion char contained in
  the input when postings are string-keyed, and the candidate_len==0 branch
  (:424-429) agrees (max(input_len, 1) == input_len);
* exact dictionary hits short-circuit for verbosity != All (:311-319):
  such queries emit only the self row (when include_self);
* include_unknown synthesizes (query, med+1, 0) for empty results (:298-303).

Known deviations (documented):
* result ties at (distance, count) are broken by term ASC — the
  reference's winner depends on HashMap posting order, which is not
  meaningful to reproduce;
* ``rank`` always orders distance ASC (then count DESC, term ASC); the
  reference sorts Verbosity::All output by distance DESC (the quirk at
  sym_spell.rs:508-515, reproduced faithfully in the scalar kernel) —
  callers comparing ordered ALL output against the kernel must invert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.delete_expr import delete_keys_array, query_deletes_array
from ..functions.udfs import osa_distance_udf
from ..kernels.symspell import Verbosity


def distributed_lookup(queries: DataFrame, words: DataFrame,
                       verbosity: Verbosity = Verbosity.CLOSEST,
                       max_edit_distance: int = 2, prefix_length: int = 7,
                       include_unknown: bool = False,
                       include_self: bool = False) -> DataFrame:
    """queries(query) × words(term, count) →
    (query, term, distance, count, rank).

    The dictionary + its delete index are broadcast — the right plan for
    dictionary-vs-corpus spelling (dictionaries are ~10^5-10^6 rows; the
    corpus side is the 10^12 one).

    Plan construction is action-free: the dictionary's max term length
    enters the plan as a broadcast one-row aggregate (evaluated inside
    the query's own job) instead of an eager ``.first()`` that would
    block the driver once per build.
    """
    q = queries.select("query").where(F.col("query").isNotNull()).distinct()
    q = q.withColumn("q_len", F.length("query"))
    # early exits (sym_spell.rs:306-308)
    mdl = words.agg(
        F.coalesce(F.max(F.length("term")), F.lit(0)).alias("_mdl"))
    eligible = (q.join(F.broadcast(mdl))
                .where((F.col("q_len") >= max_edit_distance)
                       & (F.col("q_len") - max_edit_distance
                          <= F.col("_mdl")))
                .drop("_mdl"))

    # exact match runs AFTER the length guards (sym_spell.rs:306 precedes
    # :311): a too-short query never emits its self row.  Exactness is
    # attached as a COLUMN via one broadcast left join, so the
    # short-circuit below is a filter instead of an anti-join that would
    # reference (and recompute) a second corpus-sized subtree.
    wq = words.select(F.col("term").alias("query"),
                      F.col("count").alias("_exact_count"))
    eligible = eligible.join(F.broadcast(wq), "query", "left")
    exact = (eligible.where(F.col("_exact_count").isNotNull())
             .select("query", F.col("query").alias("term"),
                     F.lit(0).alias("distance"),
                     F.col("_exact_count").alias("count")))

    blocks = F.broadcast(words.select(
        "term", "count",
        F.explode(delete_keys_array(
            F.col("term"), max_edit_distance, prefix_length))
        .alias("block_key")))

    cand = eligible.select(
        "query", "q_len",
        F.col("_exact_count").isNotNull().alias("_has_exact"),
        F.explode(query_deletes_array(
            F.col("query"), max_edit_distance, prefix_length))
        .alias("block_key"))

    joined = (cand.join(blocks, "block_key")
              .where(F.col("term") != F.col("query"))
              .where(~((F.length("term") > F.col("q_len"))
                       & (F.length("term") - F.col("q_len") > max_edit_distance))))
    pairs = joined.select("query", "q_len", "_has_exact", "term",
                          "count").dropDuplicates(["query", "term"])

    osa = osa_distance_udf(max_edit_distance)
    # lossless JVM prefilter before the Python DP (OSA ≤ lev ≤ 2·OSA);
    # 1-char suggestions bypass it — their distance is the quirk value,
    # not the DP result (threshold levenshtein returns -1 above the bound)
    band = 2 * max_edit_distance
    pairs = pairs.where(
        (F.length("term") == 1)
        | F.levenshtein(F.col("query"), F.col("term"), band)
        .between(0, band))
    scored = (pairs.withColumn(
        "distance",
        F.when(F.length("term") == 1, F.col("q_len"))
         .otherwise(osa(F.col("query"), F.col("term"))))
        .where(F.col("distance").isNotNull()
               & (F.col("distance") <= max_edit_distance)))

    if verbosity != Verbosity.ALL:
        # exact-match short circuit: drop fuzzy candidates for known
        # queries — a column filter thanks to the exactness flag
        scored = scored.where(~F.col("_has_exact"))
    results = scored.select("query", "term", "distance", "count")
    if include_self:
        results = results.unionByName(exact)

    w = Window.partitionBy("query").orderBy(
        F.asc("distance"), F.desc("count"), F.asc("term"))
    results = results.withColumn("rank", F.row_number().over(w))
    if verbosity == Verbosity.TOP:
        results = results.where(F.col("rank") == 1)
    elif verbosity == Verbosity.CLOSEST:
        min_d = F.min("distance").over(Window.partitionBy("query"))
        results = results.withColumn("_md", min_d).where(
            F.col("distance") == F.col("_md")).drop("_md")

    if include_unknown:
        # left join + coalesce, NOT anti-join + union: the anti-join form
        # references the whole scored-results subtree twice and Catalyst
        # recomputes it — doubling the UDF scoring stage on the
        # corpus-sized side.  A left join from the query set fills the
        # synthesized (query, med+1, 0) row (sym_spell.rs:298-303) for
        # result-less queries with the results subtree referenced once.
        results = (q.select("query").join(results, "query", "left")
                   .select("query",
                           F.coalesce("term", F.col("query")).alias("term"),
                           F.coalesce("distance",
                                      F.lit(max_edit_distance + 1))
                           .alias("distance"),
                           F.coalesce("count", F.lit(0).cast("long"))
                           .alias("count"),
                           F.coalesce("rank", F.lit(1)).alias("rank")))
    return results
