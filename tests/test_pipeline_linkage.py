"""North-star pipeline test: synthetic Common-Crawl pages → blocking →
scoring → clustering, pairwise F1 ≥ 0.99 (BASELINE.json metric), with
resume-from-checkpoint and extraction-invariant checks."""

import pytest
from pyspark.sql import functions as F

from spellchecker_wasm_spark.pipeline import (
    LinkageConfig, StageWriter, pairwise_f1, run_linkage, synthesize_pages)
from spellchecker_wasm_spark.pipeline.webpages import extract_text_from_html


@pytest.fixture(scope="module")
def pages_and_labels(spark):
    pages_pdf, labels_pdf = synthesize_pages(n_entities=150, seed=42)
    return (spark.createDataFrame(pages_pdf).cache(),
            spark.createDataFrame(labels_pdf).cache())


def test_generator_determinism():
    a, _ = synthesize_pages(n_entities=20, seed=7)
    b, _ = synthesize_pages(n_entities=20, seed=7)
    assert a.equals(b)
    c, _ = synthesize_pages(n_entities=20, seed=8)
    assert not a["url"].equals(c["url"])


def test_extraction_invariant_byte_identical():
    pages, _ = synthesize_pages(n_entities=25, seed=3)
    for _, row in pages.iterrows():
        assert extract_text_from_html(row["html"]) == row["text"]


def test_input_schema_matches_hint(pages_and_labels):
    pages, _ = pages_and_labels
    assert dict(pages.dtypes) == {"url": "string", "warc_ts": "timestamp",
                                  "html": "binary", "text": "string",
                                  "lang": "string"}


def test_linkage_f1(pages_and_labels):
    pages, labels = pages_and_labels
    result = run_linkage(pages.sparkSession, pages)
    scores = pairwise_f1(result["clusters"], labels)
    assert scores["f1"] >= 0.99, scores
    assert scores["recall"] == 1.0, scores  # blocking is lossless at ≤2 edits


def test_fused_prefilter_equals_post_dedup(pages_and_labels):
    """prefilter_before_dedup moves the lossless 2d-banded Levenshtein
    ahead of the pair distinct() — scored pairs and clusters must be
    IDENTICAL to the default plan on the same input."""
    pages, _ = pages_and_labels
    base = run_linkage(pages.sparkSession, pages)
    fused = run_linkage(pages.sparkSession, pages,
                        config=LinkageConfig(prefilter_before_dedup=True))
    key = lambda r: (r["id_a"], r["id_b"], r["distance"])
    assert sorted(map(key, base["scored_pairs"]
                      .select("id_a", "id_b", "distance").collect())) == \
           sorted(map(key, fused["scored_pairs"]
                      .select("id_a", "id_b", "distance").collect()))
    to_sets = lambda df: sorted(
        tuple(sorted(r["nodes"])) for r in df.groupBy("component")
        .agg(F.collect_set("node").alias("nodes")).collect())
    assert to_sets(base["clusters"]) == to_sets(fused["clusters"])


def test_run_linkage_builds_lazily(spark, pages_and_labels):
    """Without the extraction check and a StageWriter, building the
    linkage frames (blocks → pairs → scoring → clustering) schedules no
    Spark job; the same job-group check as the catalog laziness test."""
    pages, _ = pages_and_labels
    sc = spark.sparkContext
    group = "build:run_linkage"
    sc.setJobGroup(group, "run_linkage construction must schedule no jobs")
    try:
        run_linkage(spark, pages, LinkageConfig(verify_extraction=False))
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_linkage_resume_from_checkpoint(spark, pages_and_labels, tmp_path):
    pages, labels = pages_and_labels
    writer = StageWriter(spark, str(tmp_path), "run1")
    r1 = run_linkage(spark, pages, writer=writer)
    f1_first = pairwise_f1(r1["clusters"], labels)["f1"]
    events = [m["event"] for m in writer.metrics()]
    assert events.count("write") == 3  # blocks, scored_pairs, clusters

    # resume: same run_id must read back, not recompute
    writer2 = StageWriter(spark, str(tmp_path), "run1")
    r2 = run_linkage(spark, pages, writer=writer2)
    events2 = [m["event"] for m in writer2.metrics() if m["event"] == "resume"]
    assert len(events2) == 3
    assert pairwise_f1(r2["clusters"], labels)["f1"] == f1_first

    # lineage carries per-partition row counts; the observation-based
    # total (free, rides the write) must agree with the per-partition
    # scan (opt-in second pass)
    writes = [m for m in writer.metrics() if m["event"] == "write"]
    assert all("partitions" in m and m["row_count"] > 0 for m in writes)
    assert all(sum(m["partitions"].values()) == m["row_count"]
               for m in writes)


def test_extraction_invariant_enforced(spark, pages_and_labels):
    pages, _ = pages_and_labels
    corrupted = pages.withColumn(
        "text", F.concat(F.col("text"), F.lit("!")))
    with pytest.raises(ValueError, match="invariant"):
        run_linkage(spark, corrupted)


def test_multibyte_entities_clustered(pages_and_labels):
    pages, labels = pages_and_labels
    ru = pages.where(F.col("lang") == "ru")
    assert ru.count() > 0  # seed produces a Russian minority
    result = run_linkage(pages.sparkSession, pages,
                         LinkageConfig(verify_extraction=False))
    ru_urls = {r["url"] for r in ru.select("url").collect()}
    comp = {r["node"]: r["component"] for r in result["clusters"].collect()}
    truth = labels.collect()
    for row in truth:
        if row["url_a"] in ru_urls:
            assert comp[row["url_a"]] == comp[row["url_b"]]


def _pdim(pages):
    """run_linkage's slim (id, title) dimension."""
    from spellchecker_wasm_spark.functions.text_expr import title_expr
    return (pages.where(F.col("html").isNotNull())
            .select(F.xxhash64("url").alias("id"),
                    title_expr(F.col("html")).alias("title")))


@pytest.mark.parametrize("cap", [10**9, 20, 5])
def test_hot_keys_vocab_matches_flat_cap(pages_and_labels, cap):
    """run_linkage's vocabulary-level hot-key cap (hot_keys_vocab) must
    drop EXACTLY the keys the flat posting-size cap (cap_hot_blocks over
    the page-level hash explode) drops — uncapped, and at caps where
    hundreds of keys are hot on this fixture."""
    from spellchecker_wasm_spark.operators.blocking import cap_hot_blocks
    from spellchecker_wasm_spark.pipeline.linkage import (
        hot_keys_vocab, pages_to_block_hashes, title_prefixes_array)
    pages, _ = pages_and_labels
    cfg = LinkageConfig(max_block_size=cap)
    pdim = _pdim(pages)

    _, flat = cap_hot_blocks(pages_to_block_hashes(pdim, cfg), cap)
    toks = pdim.select(F.explode(
        title_prefixes_array(F.col("title"), cfg)).alias("prefix"))
    vocab = hot_keys_vocab(toks, cfg)

    flat_keys = {r["block_key"] for r in flat.select("block_key").collect()}
    vocab_keys = {r["block_key"] for r in vocab.select("block_key").collect()}
    assert vocab_keys == flat_keys
    assert (len(flat_keys) > 0) == (cap < 10**9)


@pytest.mark.parametrize("cap", [10**9, 20, 5])
def test_two_level_pairs_equal_flat(pages_and_labels, cap):
    """The two-level blocks (distinct page prefixes + capped vocabulary
    keys) must stand for EXACTLY the flat capped page-level explode —
    toks ⋈ vk equals it as a multiset — and pairs_stage must produce
    exactly the flat self-join's candidate set, uncapped and at caps
    where hundreds of keys are hot."""
    from spellchecker_wasm_spark.operators.blocking import cap_hot_blocks
    from spellchecker_wasm_spark.operators.pairs import candidate_pairs
    from spellchecker_wasm_spark.pipeline.linkage import (
        blocks_stage, page_block_keys, pages_to_block_hashes, pairs_stage)
    pages, _ = pages_and_labels
    cfg = LinkageConfig(max_block_size=cap)
    pdim = _pdim(pages)
    dim = pdim.select("id", F.col("title").alias("term"))

    capped, _ = cap_hot_blocks(pages_to_block_hashes(pdim, cfg), cap)
    toks, vk, _ = blocks_stage(pdim, cfg)
    cols = ["page_id", "tl", "block_key"]
    two_keys = page_block_keys(toks, vk).select(*cols)
    assert two_keys.exceptAll(capped.select(*cols)).isEmpty()
    assert capped.select(*cols).exceptAll(two_keys).isEmpty()

    def ids(df):
        return {(r["id_a"], r["id_b"]) for r in
                df.select("id_a", "id_b").collect()}

    flat = ids(candidate_pairs(capped, id_col="page_id", dim=dim,
                               len_col="tl",
                               max_len_diff=cfg.max_edit_distance))
    two = ids(pairs_stage(toks, vk, pdim, cfg))
    assert two == flat
    assert len(flat) > 0


def test_extraction_invariant_runs_in_the_jvm(pages_and_labels,
                                              monkeypatch):
    """verify_extraction_invariant evaluates the JVM extraction
    expression (no Python UDF node in its executed plan) and, on pages
    with some corrupted ``text`` rows, counts exactly the rows the
    Python reference extractor flags."""
    from spellchecker_wasm_spark.pipeline.linkage import (
        verify_extraction_invariant)
    pages, _ = pages_and_labels
    corrupted = pages.withColumn(
        "text", F.when(F.xxhash64("url") % 7 == 0,
                       F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text")))
    want = sum(extract_text_from_html(bytes(r["html"])) != r["text"]
               for r in corrupted.select("html", "text").collect())
    assert want > 0

    counted = []
    frame = type(pages)
    count = frame.count
    monkeypatch.setattr(frame, "count",
                        lambda df: counted.append(df) or count(df))
    assert verify_extraction_invariant(corrupted) == want
    assert verify_extraction_invariant(pages) == 0
    plan = counted[0]._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_block_hashes_reject_prefix_not_above_edit_distance(spark):
    """The hash-direct key generator needs prefix_length >
    max_edit_distance (at P <= d the empty-key rule would read a truncated
    length), so the page-level explode refuses such a config instead of
    building keys."""
    from spellchecker_wasm_spark.pipeline.linkage import (
        pages_to_block_hashes)
    pdim = spark.createDataFrame([(1, "acme widget")],
                                 "id long, title string")
    with pytest.raises(ValueError, match="prefix_length > max_edit_distance"):
        pages_to_block_hashes(pdim, LinkageConfig(prefix_length=2))
