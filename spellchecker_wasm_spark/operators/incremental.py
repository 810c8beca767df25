"""Incremental linkage: assign newly-arrived records to the STANDING
entity clusters without reclustering the corpus — the steady-state
operation of a production ER system (beyond-reference: the reference
resolves per-lookup, SURVEY.md §2.3; this is the record-level analogue
over a maintained cluster index).

Shared by the batch and streaming catalog renditions
(queries.py incremental_linkage / stream_incremental_linkage).  Both
produce the same assignment; they differ only in how singleton safety
is achieved, because streaming forbids the batch shape's post-
aggregation join:

* batch (``dedup_pairs=True``): slim (new_id, ex_id) candidate dedup
  BEFORE scoring (the key join fans out ~29× per shared key; scoring
  once per distinct pair is the cheap order), payloads attached after,
  singletons restored by a final left join of all new ids against the
  aggregated best matches.
* streaming (``dedup_pairs=False``): stateless until ONE min
  aggregation (one BIGINT of state per record).  The probe is a LEFT
  outer join and match validity (index hit, length window, distance
  bound) lives in the arg-min KEY, never in a row filter — a row filter
  could drop ALL of a record's key rows (e.g. every hit
  length-mismatched) and silently lose the record; validity-in-key
  guarantees every record reaches the aggregation and falls back to a
  singleton.  Key rows reach the scorer un-deduplicated: duplicates
  cannot change a min.

The subtle paths the labeled fixture never takes — unmatched records,
cross-cluster distance ties — are unit-tested on synthetic frames in
tests/test_incremental.py, which also asserts both paths agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.delete_hash_expr import delete_key_hash_explode
from ..functions.udfs import osa_distance_udf
from .scoring import score_pairs
from .skew import fan_out

#: packed arg-min key scale: best match minimizes
#: distance * BEST_SCALE + component, so min() is the arg-min
#: (distance first, then smallest component id).  Valid while component
#: ids stay below BEST_SCALE — page-id components satisfy this through
#: ~10^10 pages; at full crawl scale widen to a (distance, component)
#: struct min.
BEST_SCALE = 100_000_000_000


def _explode_keys(df: DataFrame, id_alias: str, len_alias: str,
                  id_col: str, term_col: str, max_edit_distance: int,
                  prefix_length: int, term_alias: str | None = None,
                  fan: bool = False) -> DataFrame:
    """(id, [term,] len, block_key) per whole-term-prefix delete-key hash;
    ``fan``: spread the projected source first (skew.fan_out)."""
    cols = [F.col(id_col).alias(id_alias)]
    if term_alias:
        cols.append(F.col(term_col).alias(term_alias))
    src = df.select(*cols, F.length(term_col).alias(len_alias),
                    F.substring(term_col, 1, prefix_length).alias("prefix"))
    return delete_key_hash_explode(
        fan_out(src) if fan else src, "prefix",
        max_edit_distance=max_edit_distance, prefix_length=prefix_length,
        keep_cols=src.columns[:-1])


def standing_index(pages: DataFrame, asg: DataFrame,
                   id_col: str = "page_id", term_col: str = "title",
                   max_edit_distance: int = 2,
                   prefix_length: int = 7) -> DataFrame:
    """(pages, asg(id, component)) → streaming-path probe index: one row
    per (delete-key hash, existing page) carrying
    (block_key, ex_id, el, term_b, component).  This is the table a
    production deployment checkpoints (the blocks stage of
    pipeline/lineage) joined with the current assignment; callers
    persist it across probe batches.

    r6: the term payload rides the key explode itself (keep_cols) —
    the explode is a pure projection, so carrying term_b through it is
    free and removes the pages re-join entirely (2 joins → 1; the one
    remaining join attaches the component map, broadcast-sized).  The
    explode source fans out to session parallelism (skew.fan_out)."""
    eb = _explode_keys(pages, "ex_id", "el", id_col, term_col,
                       max_edit_distance, prefix_length, term_alias="term_b",
                       fan=True)
    return eb.join(asg.select(F.col(id_col).alias("ex_id"), "component"),
                   "ex_id")


def assign_new_records(new: DataFrame, pages: DataFrame, asg: DataFrame,
                       id_col: str = "page_id", term_col: str = "title",
                       max_edit_distance: int = 2,
                       prefix_length: int = 7,
                       dedup_pairs: bool | None = None,
                       index: DataFrame | None = None) -> DataFrame:
    """new(id, term) × standing clusters → one row PER new record:
    (new_page_id, matched 0/1, component).  Best match = min
    (distance, component) over verified (OSA ≤ max_edit_distance) hits
    within the length window; no hit → the record founds its own
    singleton component (its id).

    ``dedup_pairs``: None → auto (False when ``new`` is streaming).
    ``index``: pre-built (persisted) standing_index for the streaming
    path; ignored on the batch path."""
    streaming = new.isStreaming
    if dedup_pairs is None:
        dedup_pairs = not streaming
    if dedup_pairs and streaming:
        raise ValueError("dedup_pairs requires a batch `new` frame "
                         "(streaming forbids the post-agg join)")
    asg_ex = asg.select(F.col(id_col).alias("ex_id"), "component")

    if dedup_pairs:
        nb = _explode_keys(new, "new_id", "nl", id_col, term_col,
                           max_edit_distance, prefix_length)
        eb = _explode_keys(pages, "ex_id", "el", id_col, term_col,
                           max_edit_distance, prefix_length)
        cand = (nb.join(eb, "block_key")
                .where(F.abs(F.col("nl") - F.col("el"))
                       <= max_edit_distance)
                .select("new_id", "ex_id").distinct())
        ndim = new.select(F.col(id_col).alias("new_id"),
                          F.col(term_col).alias("term_a"))
        edim = pages.select(F.col(id_col).alias("ex_id"),
                            F.col(term_col).alias("term_b"))
        scored = score_pairs(cand.join(ndim, "new_id")
                             .join(edim, "ex_id"),
                             max_distance=max_edit_distance)
        key = (F.col("distance").cast("bigint") * F.lit(BEST_SCALE)
               + F.col("component").cast("bigint"))
        best = (scored.join(asg_ex, "ex_id")
                .groupBy("new_id").agg(F.min(key).alias("best_key")))
        out = (new.select(F.col(id_col).alias("new_id"))
               .join(best, "new_id", "left"))
    else:
        if index is None:
            index = standing_index(pages, asg, id_col, term_col,
                                   max_edit_distance, prefix_length)
        nb = _explode_keys(new, "new_id", "nl", id_col, term_col,
                           max_edit_distance, prefix_length,
                           term_alias="term_a")
        j = nb.join(index, "block_key", "left")
        osa = osa_distance_udf(max_edit_distance)
        scored = j.withColumn("distance", osa(F.col("term_a"),
                                              F.col("term_b")))
        valid = (F.col("ex_id").isNotNull()
                 & (F.abs(F.col("nl") - F.col("el"))
                    <= max_edit_distance)
                 & F.col("distance").isNotNull())
        key = F.when(valid,
                     F.col("distance").cast("bigint") * F.lit(BEST_SCALE)
                     + F.col("component").cast("bigint"))
        out = scored.groupBy("new_id").agg(F.min(key).alias("best_key"))

    comp = F.coalesce(F.col("best_key") % F.lit(BEST_SCALE),
                      F.col("new_id").cast("bigint"))
    return out.select(
        F.col("new_id").cast("bigint").alias("new_page_id"),
        F.col("best_key").isNotNull().cast("bigint").alias("matched"),
        comp.alias("component"))
