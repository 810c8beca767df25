"""End-to-end record-linkage pipeline (the north star):

pages(url, warc_ts, html, text, lang)
  → extract text (byte-identical invariant vs the stored column)
  → title tokens (reference-quirk tokenizer, lowered, cleaned)
  → SymSpell delete-key blocking with hot-key capping        [blocks_stage]
  → candidate pairs (url_a < url_b, length window, dedup)    [pairs_stage]
  → vectorized banded Damerau-OSA scoring ≤ max_edit_distance [scoring_stage]
  → connected components: union-find finisher inside the plan [clusters]
    (optional large-star/small-star rounds ahead, max_cc_iter=0 default)

``run_linkage`` composes the three stage functions; the query catalog's
linkage rows run them too, so its oracles check this plan.

Scale design notes (10^12 documents):
* every stage is a pure DataFrame plan: one vocabulary-level shuffle for
  hot-key weights, one per side of the pair join (AQE skew-split; the
  persisted capped frame is not repartitioned by key), and a
  single-partition exchange into the union-find finisher (each optional
  star round adds its own joins);
* hot blocking keys (shared vocab words) are capped with logged accounting —
  recall is preserved because duplicate pages always share their
  discriminating rare-token blocks, while hot keys only produce pairs that
  either co-occur in rare blocks or score above threshold anyway;
* the only persisted state is (id, title) — ~60 bytes/page — and the
  capped key explode; blocking keys are 64-bit hashes, pair rows are bare
  long ids with an int length, and title payloads re-attach post-dedup
  from the slim dimension.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.delete_expr import delete_keys_of_prefix
from ..functions.delete_hash_expr import delete_key_hash_explode
from ..functions.text_expr import title_expr, title_tokens_array
from ..operators.clustering import connected_components
from ..operators.pairs import candidate_pairs
from ..operators.scoring import score_pairs
from .lineage import StageWriter
from .webpages import extract_text_from_html


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched application of the fixed extraction rule."""
    return html.map(lambda h: extract_text_from_html(h) if h is not None else None)


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
    """pdim(id, title) → (page_id, tl, block_key:long) — the blocking
    explode emitting 64-bit key HASHES directly (functions/
    delete_hash_expr), never materializing key strings.

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


def hot_keys_vocab(toks: DataFrame, config: "LinkageConfig") -> DataFrame:
    """Hot blocking keys computed at the VOCABULARY level: page-weighted
    key weight = Σ over posting prefixes of that prefix's page count, at
    ~1/3 the rows of the page-level explode (distinct prefixes × fan-out
    instead of pages × fan-out) and without materializing or re-scanning
    that explode at all.  Returns (block_key:long) hot-key rows.

    The weight equals the posting size cap_hot_blocks counts on the
    pages_to_block_hashes explode, so both drop the same keys
    (tests/test_pipeline_linkage.py).

    ``toks``: (…, prefix) one row per distinct (page, prefix).
    """
    pc = toks.groupBy("prefix").agg(F.count(F.lit(1)).alias("n_pages"))
    vkeys = delete_key_hash_explode(
        pc, "prefix", config.max_edit_distance, config.prefix_length,
        keep_cols=["n_pages"])
    return (vkeys.groupBy("block_key")
            .agg(F.sum("n_pages").alias("weight"))
            .where(F.col("weight") > config.max_block_size)
            .select("block_key", "weight"))


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
    # EMITTED pair (per shared key) — measured a net 1.3× end-to-end LOSS
    # on this workload, so off by default; see the docstring for when it
    # wins.  Requires the (id, title) dim to be broadcastable.
    prefilter_before_dedup: bool = False


def verify_extraction_invariant(pages: DataFrame) -> int:
    """Per-row invariant vs the reference extractor: re-derive text from
    html and count byte-level mismatches (must be 0)."""
    return (pages
            .where(extract_text_udf(F.col("html")) != F.col("text"))
            .count())


def blocks_stage(pdim: DataFrame, config: LinkageConfig
                 ) -> tuple[DataFrame, DataFrame]:
    """pdim(id, title) → (capped (page_id, tl, block_key), dropped hot
    keys (block_key, weight))."""
    blocks = pages_to_block_hashes(pdim, config)
    toks = pdim.select(F.explode(
        title_prefixes_array(F.col("title"), config)).alias("prefix"))
    dropped = hot_keys_vocab(toks, config)
    # persist only the CAPPED explode (hot keys carry most of the raw
    # volume), materialized once for both pair-join sides
    capped = (blocks.join(F.broadcast(dropped.select("block_key")),
                          "block_key", "left_anti")
              .persist())
    return capped, dropped


def pairs_stage(capped: DataFrame, pdim: DataFrame,
                config: LinkageConfig) -> DataFrame:
    """(capped, pdim) → UNVERIFIED (id_a, id_b, term_a, term_b)."""
    dim = pdim.select("id", F.col("title").alias("term"))
    band = (2 * config.max_edit_distance
            if config.prefilter_before_dedup else None)
    return candidate_pairs(capped, id_col="page_id",
                           max_len_diff=config.max_edit_distance, dim=dim,
                           len_col="tl", prefilter_band=band)


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
    # blocks carry (id:long, key_hash:long, len:int) only — keys are
    # 64-bit-hashed (a hash collision merely adds one spurious candidate
    # that scoring rejects; recall is unaffected) and the title payload
    # never rides the ~80×-fan-out explode or the pair-join shuffles; it
    # is re-attached post-dedup from the pages-derived dimension
    # (pairs_stage).  ONE persisted slim dimension (id, title) — ~60
    # bytes/page — feeds every downstream pass: the html-regex extraction
    # runs exactly once.
    pdim = (pages.where(F.col("html").isNotNull())
            .select(F.xxhash64("url").alias("id"),
                    title_expr(F.col("html")).alias("title"))
            .persist())
    capped, dropped = blocks_stage(pdim, config)
    if writer:
        capped = writer.materialize("blocks", capped)
        writer._log({"stage": "blocks", "event": "hot_keys_dropped",
                     "dropped_keys": dropped.count()})

    scored = scoring_stage(pairs_stage(capped, pdim, config), config)
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
    return {"blocks": capped, "dropped_keys": dropped,
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
