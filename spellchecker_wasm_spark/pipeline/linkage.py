"""End-to-end record-linkage pipeline (the north star):

pages(url, warc_ts, html, text, lang)
  → extract text (the JVM extraction expression checked against the
    stored column)
  → title tokens (reference-quirk tokenizer, lowered, cleaned)
  → two-level SymSpell delete-key blocking                    [blocks_stage]
      toks(page_id, tl, prefix): one row per distinct (page, prefix)
      vk(prefix, block_key): the delete keys of the distinct prefixes,
      hot keys capped by page-weighted posting size
  → candidate pairs: vk self-join → distinct prefix pairs     [pairs_stage]
    → expansion through toks (length window) → distinct page pairs
  → vectorized banded Damerau-OSA scoring ≤ max_edit_distance [scoring_stage]
  → connected components: union-find finisher inside the plan [clusters]
    (optional large-star/small-star rounds ahead, max_cc_iter=0 default)

``run_linkage`` composes the three stage functions; the query catalog's
linkage rows run them too, so its oracles check this plan.

Two levels, as SymSpell's own ``deletes`` index: the delete keys depend
only on the token-prefix vocabulary, so they are exploded once per
distinct prefix, not once per (page, prefix); the key self-join pairs
prefixes, and only the distinct prefix pairs expand to pages.  A page
pair is a candidate iff some prefix pair of theirs shares a kept key —
exactly the pairs of the page-level key self-join over
``pages_to_block_hashes`` (tests/test_pipeline_linkage.py), which emits
each page pair once per SHARED KEY (8.8M emits for 190k distinct pairs
on 18k synthesized pages, against 476k vocabulary-join rows here).

Scale design notes (10^12 documents):
* every stage is a pure DataFrame plan: one vocabulary-level shuffle for
  the prefix page counts, one for hot-key weights, the vocabulary key
  self-join, the expansion joins (broadcastable toks sides while they
  fit), the pair dedup, and a single-partition exchange into the
  union-find finisher (each optional star round adds its own joins);
* the vocabulary grows sublinearly in the corpus (Heaps' law), so the
  key explode and the key self-join stay vocabulary-sized; the
  corpus-scale work is the distinct (page, prefix) scan and the
  expansion, whose output is ~the final candidate set;
* hot blocking keys (shared vocab words) are capped with logged accounting —
  recall is preserved because duplicate pages always share their
  discriminating rare-token blocks, while hot keys only produce pairs that
  either co-occur in rare blocks or score above threshold anyway; a
  prefix held by more than max_block_size pages has every key dropped,
  which bounds the expansion;
* the persisted state is (id, title) — ~60 bytes/page — the distinct
  (page, prefix) rows and the vocabulary keys; blocking keys are 64-bit
  hashes, pair rows are bare long ids, and title payloads re-attach
  post-dedup from the slim dimension.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.delete_expr import delete_keys_of_prefix
from ..functions.delete_hash_expr import delete_key_hash_explode
from ..functions.text_expr import (extract_text_expr, title_expr,
                                   title_tokens_array)
from ..operators.clustering import connected_components
from ..operators.pairs import dedup_pairs
from ..operators.scoring import score_pairs
from .lineage import StageWriter


def title_prefixes_array(title, config: "LinkageConfig"):
    """Column: array<string> of distinct blocking-token prefixes."""
    toks = title_tokens_array(title, config.min_token_len)
    return F.array_distinct(F.transform(
        toks, lambda t: F.substring(t, 1, config.prefix_length)))


def title_block_keys(title, config: "LinkageConfig"):
    """Column: array<string> of deduplicated blocking keys of a title
    (tokenize → prefix-truncate → combinatorial delete masks)."""
    return F.array_distinct(F.flatten(F.transform(
        title_prefixes_array(title, config),
        lambda p: delete_keys_of_prefix(p, config.max_edit_distance,
                                        config.prefix_length))))


def pages_to_block_hashes(pdim: DataFrame,
                          config: "LinkageConfig") -> DataFrame:
    """pdim(id, title) → (page_id, tl, block_key:long) — the flat,
    page-level blocking explode emitting 64-bit key HASHES directly
    (functions/delete_hash_expr), never materializing key strings.
    run_linkage explodes the vocabulary instead (blocks_stage); this is
    the reference its two-level plan is tested against.

    Physical shape: Generate(explode(prefixes)) → Project(per-position
    codepoints) → Generate(explode(mask-hash array)) — every expression
    whole-stage-codegen'd, no higher-order function in the fan-out path
    (the per-page prefix array is vocabulary-small; the ~29× key fan-out
    is where interpretation hurt).  Measured 1.56× over the round-2
    string+xxhash64 shape on the 600k-page explode (7.69s → 4.94s at 8
    pinned cores), with zero string allocation.

    Deviation from the string keys (``title_block_keys``): per-page
    cross-PREFIX duplicate keys (two distinct title prefixes sharing a
    delete variant) are not deduplicated before the join — ~0.2% extra
    rows on the protocol input — because recovering the per-page distinct
    would cost a 47M-row aggregate for join input the pair-stage
    ``distinct()`` already absorbs.  Posting sizes count such pages
    twice, exactly as hot_keys_vocab's weights do.  Like every key
    generator here it requires prefix_length > max_edit_distance
    (ValueError otherwise).
    """
    pref = pdim.select(
        F.col("id").alias("page_id"), F.length("title").alias("tl"),
        F.explode(title_prefixes_array(F.col("title"), config))
        .alias("prefix"))
    return delete_key_hash_explode(
        pref, "prefix", config.max_edit_distance, config.prefix_length,
        keep_cols=["page_id", "tl"])


def vocab_block_keys(toks: DataFrame,
                     config: "LinkageConfig") -> DataFrame:
    """toks(…, prefix), one row per distinct (page, prefix) → (prefix,
    n_pages, block_key): the delete-key explode of the VOCABULARY — each
    distinct prefix once, carrying the number of pages that hold it.

    The prefix counts are small enough that AQE coalesces them into one
    partition, so the ~29× explode runs in one task.  A round-robin
    repartition to the shuffle width spreads it, but cost 9–30% more
    process CPU per linkage run in three paired runs on 18k synthesized
    pages (4 cores), so there is none."""
    pc = toks.groupBy("prefix").agg(F.count(F.lit(1)).alias("n_pages"))
    return delete_key_hash_explode(
        pc, "prefix", config.max_edit_distance, config.prefix_length,
        keep_cols=["prefix", "n_pages"])


def _hot_keys(vkeys: DataFrame, config: "LinkageConfig") -> DataFrame:
    return (vkeys.groupBy("block_key")
            .agg(F.sum("n_pages").alias("weight"))
            .where(F.col("weight") > config.max_block_size)
            .select("block_key", "weight"))


def hot_keys_vocab(toks: DataFrame, config: "LinkageConfig") -> DataFrame:
    """Hot blocking keys computed at the VOCABULARY level: page-weighted
    key weight = Σ over posting prefixes of that prefix's page count,
    over the vocabulary explode (distinct prefixes × fan-out instead of
    pages × fan-out).  Returns (block_key:long, weight) hot-key rows.

    The weight equals the posting size cap_hot_blocks counts on the
    pages_to_block_hashes explode, so both drop the same keys
    (tests/test_pipeline_linkage.py).

    ``toks``: (…, prefix) one row per distinct (page, prefix).
    """
    return _hot_keys(vocab_block_keys(toks, config), config)


@dataclass
class LinkageConfig:
    max_edit_distance: int = 2
    prefix_length: int = 7
    max_block_size: int = 500
    # star rounds ahead of the clustering finisher
    # (operators/clustering.connected_components)
    max_cc_iter: int = 0
    min_token_len: int = 2
    verify_extraction: bool = True
    # apply the lossless 2d-banded Levenshtein verification BEFORE pair
    # dedup (operators.pairs.candidate_pairs prefilter_band docstring):
    # shrinks the dedup exchange ~20× but pays the verification DP per
    # EMITTED pair — measured a net 1.3× end-to-end LOSS when the flat
    # self-join emitted each pair once per shared key, so off by default;
    # the two-level expansion emits each pair about once (not
    # re-measured).  Requires the (id, title) dim to be broadcastable.
    prefilter_before_dedup: bool = False


def verify_extraction_invariant(pages: DataFrame) -> int:
    """Per-row invariant: re-derive text from html with the JVM
    extraction expression blocking uses (functions/text_expr, pinned
    byte-for-byte to pipeline.webpages.extract_text_from_html by
    tests/test_text_expr.py) and count the rows whose stored ``text``
    differs (must be 0)."""
    return (pages
            .where(extract_text_expr(F.col("html")) != F.col("text"))
            .count())


def blocks_stage(pdim: DataFrame, config: LinkageConfig
                 ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """pdim(id, title) → (toks (page_id, tl, prefix), vk (prefix,
    block_key), dropped hot keys (block_key, weight)).

    ``toks`` holds one row per distinct (page, prefix) and is persisted
    (the vocabulary count and both expansion sides read it).  The
    vocabulary explode is persisted too, so the hot-key weights and
    ``vk`` (its rows whose key survives the cap) share one explode.
    ``page_block_keys(toks, vk)`` is the page-level capped explode."""
    toks = pdim.select(
        F.col("id").alias("page_id"), F.length("title").alias("tl"),
        F.explode(title_prefixes_array(F.col("title"), config))
        .alias("prefix")).persist()
    vkeys = vocab_block_keys(toks, config).persist()
    dropped = _hot_keys(vkeys, config)
    vk = (vkeys.join(F.broadcast(dropped.select("block_key")),
                     "block_key", "left_anti")
          .select("prefix", "block_key"))
    return toks, vk, dropped


def page_block_keys(toks: DataFrame, vk: DataFrame) -> DataFrame:
    """(page_id, tl, block_key): every page's kept blocking keys — as a
    multiset, the capped ``pages_to_block_hashes`` explode."""
    return toks.join(vk, "prefix").select("page_id", "tl", "block_key")


def pairs_stage(toks: DataFrame, vk: DataFrame, pdim: DataFrame,
                config: LinkageConfig) -> DataFrame:
    """(toks, vk, pdim) → UNVERIFIED (id_a, id_b, term_a, term_b).

    The vk self-join pairs prefixes that share a kept key (each
    unordered pair once, a prefix with itself included); the distinct
    prefix pairs expand to the pages holding them on either side.  One
    page may hold the smaller prefix and the other the larger, so the
    ids are ordered after the expansion (least/greatest), then
    operators.pairs.dedup_pairs runs the tail candidate_pairs runs."""
    d = config.max_edit_distance
    a, b = vk.alias("a"), vk.alias("b")
    prefix_pairs = (a.join(b, (F.col("a.block_key") == F.col("b.block_key"))
                           & (F.col("a.prefix") <= F.col("b.prefix")))
                    .select(F.col("a.prefix").alias("pa"),
                            F.col("b.prefix").alias("pb"))
                    .distinct())

    def side(s):
        return toks.select(F.col("page_id").alias(f"id_{s}"),
                           F.col("prefix").alias(f"p{s}"),
                           F.col("tl").alias(f"tl_{s}"))

    emitted = (prefix_pairs.join(side("a"), "pa").join(side("b"), "pb")
               .where((F.col("id_a") != F.col("id_b"))
                      & (F.abs(F.col("tl_a") - F.col("tl_b")) <= d))
               .select(F.least("id_a", "id_b").alias("id_a"),
                       F.greatest("id_a", "id_b").alias("id_b")))
    dim = pdim.select("id", F.col("title").alias("term"))
    band = 2 * d if config.prefilter_before_dedup else None
    return dedup_pairs(emitted, dim, prefilter_band=band)


def scoring_stage(pairs: DataFrame, config: LinkageConfig) -> DataFrame:
    """pairs → pairs + distance, kept at OSA ≤ max_edit_distance."""
    return score_pairs(pairs, max_distance=config.max_edit_distance,
                       jvm_prefilter=not config.prefilter_before_dedup)


def run_linkage(spark: SparkSession, pages: DataFrame,
                config: LinkageConfig | None = None,
                writer: StageWriter | None = None) -> dict:
    config = config or LinkageConfig()
    if config.verify_extraction:
        mismatches = verify_extraction_invariant(pages)
        if mismatches:
            raise ValueError(
                f"text-extraction invariant violated on {mismatches} rows")

    # dictionary-encode pages to 64-bit ids: the quadratic pair stream and
    # every clustering round then shuffle (long, long) rows instead of url-
    # string pairs (~5× less shuffle volume).  xxhash64 collisions are
    # ~zero here and ~10^-2 expected count even at 10^12 urls (a collision
    # merges two pages — bounded F1 impact); swap for an id-table join if
    # exactness is required.
    # blocking keys are 64-bit hashes (a hash collision merely adds one
    # spurious candidate that scoring rejects; recall is unaffected) and
    # the title payload never rides the key explode or the pair joins; it
    # is re-attached post-dedup from the pages-derived dimension
    # (pairs_stage).  ONE persisted slim dimension (id, title) — ~60
    # bytes/page — feeds every downstream pass: the html-regex extraction
    # runs exactly once.
    pdim = (pages.where(F.col("html").isNotNull())
            .select(F.xxhash64("url").alias("id"),
                    title_expr(F.col("html")).alias("title"))
            .persist())
    toks, vk, dropped = blocks_stage(pdim, config)
    if writer:
        vk = writer.materialize("blocks", vk)
        writer._log({"stage": "blocks", "event": "hot_keys_dropped",
                     "dropped_keys": dropped.count()})

    scored = scoring_stage(pairs_stage(toks, vk, pdim, config), config)
    if writer:
        scored = writer.materialize("scored_pairs", scored)

    ids = connected_components(scored, src_col="id_a", dst_col="id_b",
                               max_iter=config.max_cc_iter,
                               nodes=pages.select(F.xxhash64("url")
                                                  .alias("page_id")))
    clusters = (ids.join(pages.select(F.xxhash64("url").alias("node"),
                                      "url"), "node")
                .select(F.col("url").alias("node"), "component"))
    if writer:
        clusters = writer.materialize("clusters", clusters)
    return {"blocks": page_block_keys(toks, vk), "dropped_keys": dropped,
            "scored_pairs": scored, "clusters": clusters}


def pairwise_f1(clusters: DataFrame, labels: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of cluster co-membership against the
    complete same-entity truth pairs."""
    a = clusters.select(F.col("node").alias("url_a"), "component")
    b = clusters.select(F.col("node").alias("url_b"), "component")
    pred = (a.join(b, "component")
            .where(F.col("url_a") < F.col("url_b"))
            .select("url_a", "url_b"))
    truth = labels.where(F.col("is_match")).select("url_a", "url_b")
    n_pred = pred.count()
    n_truth = truth.count()
    n_hit = pred.join(truth, ["url_a", "url_b"]).count()
    precision = n_hit / n_pred if n_pred else 1.0
    recall = n_hit / n_truth if n_truth else 1.0
    f1 = (2 * precision * recall / (precision + recall)
          if precision + recall else 0.0)
    return {"precision": precision, "recall": recall, "f1": f1,
            "predicted_pairs": n_pred, "truth_pairs": n_truth,
            "matched_pairs": n_hit}
