"""Focused equivalence tests for the round-6 optimizations that changed
operator/query internals (round rule: every internals-changing
optimization carries a test proving the rewrite computes the same
thing).  The full oracle sweep (tests/test_query_catalog.py) covers the
end results; these pin the REWRITE-vs-REFERENCE equivalence directly so
a future refactor can't silently diverge.

Covered here:
  * operators/incremental.standing_index — term payload now rides the
    key explode (pages re-join removed, single-split fan-out added)
  * queries._lk_gram_pair_counts — the shared gram-pair-count frame
    qgram_blocking/canopy_blocking both derive from (length window
    moved to a post-agg filter; loose-graph derived from the counts)
  * queries._q_dedup_embedding — interpreted per-pair HOF dot replaced
    by one numpy all-pairs matmul inside a single-partition mapInPandas
  * queries._bucket_pairs — the capped in-bucket pair emit the
    bucket-collect dedup rows share
  * queries._SQL_EMB — the oracles' embedding quantizer rounds as
    operators/similarity._quantize does
  * queries._lk_blocks — the linkage fixture's blocks come from
    pipeline.linkage.blocks_stage (two-level: tokenized prefixes and
    their capped vocabulary keys) instead of the whole-title prefix
    explode the oracle rows were first checked against
"""

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_standing_index_matches_join_formulation(spark):
    """The keep_cols carry must produce exactly the old explode→join
    rows: same columns, same multiset."""
    from spellchecker_wasm_spark.operators.incremental import (
        _explode_keys, standing_index)

    pages = spark.createDataFrame(
        [(1, "spark"), (2, "spa"), (3, "sprk"), (4, "a")],
        "page_id long, title string")
    asg = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 4)], "page_id long, component long")
    got = standing_index(pages, asg)
    # reference: the pre-r6 formulation (explode, then join pages for
    # the term payload, then join the assignment)
    eb = _explode_keys(pages, "ex_id", "el", "page_id", "title", 2, 7)
    want = (eb.join(pages.select(F.col("page_id").alias("ex_id"),
                                 F.col("title").alias("term_b")), "ex_id")
            .join(asg.select(F.col("page_id").alias("ex_id"), "component"),
                  "ex_id"))
    assert sorted(got.columns) == sorted(want.columns)
    g = _rows(got.select(*sorted(got.columns)))
    w = _rows(want.select(*sorted(want.columns)))
    assert g == w


def test_gram_pair_counts_reproduce_direct_joins(spark):
    """qgram's candidate set and canopy's loose graph derived from the
    shared pair-count frame must equal the direct self-join
    formulations they replaced."""
    import spellchecker_wasm_spark.queries as Q

    pages = Q._lk_pages(spark, SF_DIR)
    g = pages.select(
        "page_id", F.length("title").alias("tl"),
        F.explode(F.array_distinct(F.expr(
            "transform(sequence(1, length(title) - 2), "
            "i -> substring(title, i, 3))"))).alias("gram"))
    a, b = g.alias("a"), g.alias("b")
    qgram_direct = (a.join(b, (F.col("a.gram") == F.col("b.gram"))
                           & (F.col("a.page_id") < F.col("b.page_id"))
                           & (F.abs(F.col("a.tl") - F.col("b.tl")) <= 2))
                    .select(F.col("a.page_id").alias("id_a"),
                            F.col("b.page_id").alias("id_b"))
                    .distinct())
    sim_direct = (a.join(b, (F.col("a.gram") == F.col("b.gram"))
                         & (F.col("a.page_id") < F.col("b.page_id")))
                  .groupBy(F.col("a.page_id").alias("id_a"),
                           F.col("b.page_id").alias("id_b"))
                  .agg(F.count(F.lit(1)).alias("ns"))
                  .where(F.col("ns") >= Q._CANOPY_LOOSE)
                  .select("id_a", "id_b"))
    gpc = Q._lk_gram_pair_counts(spark, SF_DIR)
    qgram_shared = (gpc.where(F.abs(F.col("tla") - F.col("tlb")) <= 2)
                    .select("id_a", "id_b"))
    sim_shared = (gpc.where(F.col("ns") >= Q._CANOPY_LOOSE)
                  .select("id_a", "id_b"))
    assert _rows(qgram_shared) == _rows(qgram_direct)
    assert _rows(sim_shared) == _rows(sim_direct)


def test_dedup_embedding_matches_hof_formulation(spark):
    """The numpy-matmul rewrite must emit exactly the pairs of the old
    broadcast-NLJ interpreted-HOF plan (same IEEE cosine cut)."""
    import spellchecker_wasm_spark.queries as Q
    from spellchecker_wasm_spark.operators.similarity import _prep
    from spellchecker_wasm_spark.queries import _DEDUP_EMB_CAP, load

    got = Q._q_dedup_embedding(spark, SF_DIR)
    emb = (load(spark, SF_DIR, "embeddings")
           .where(F.col("vec_id") < _DEDUP_EMB_CAP))
    n = _prep(emb, "vec_id", "embedding")
    a = n.select(F.col("vid").alias("vec_a"), F.col("v").alias("va"),
                 F.col("nrm").alias("na"))
    b = n.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb"),
                 F.col("nrm").alias("nb"))
    want = (a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
            .withColumn("dot", F.expr(
                "aggregate(zip_with(va, vb, (x, y) -> x * y), 0L, "
                "(acc, x) -> acc + x)"))
            .where(F.col("dot") / (F.sqrt("na") * F.sqrt("nb")) >= 0.35)
            .select("vec_a", "vec_b"))
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0  # non-vacuous at this SF


def test_sql_emb_quantizes_like_spark(spark):
    """The oracles' quantizer (queries._SQL_EMB) gives the same
    milli-unit as the Spark one (similarity._quantize) on an element
    whose single-precision product rounds the other way: FLOAT 0.3195
    (sf0.1 vec_id 1879, dim 17) is 319.4999993 in double, 319.5 in
    float."""
    import duckdb

    from spellchecker_wasm_spark.operators.similarity import _quantize
    from spellchecker_wasm_spark.queries import _SQL_EMB

    con = duckdb.connect()
    con.sql("CREATE VIEW embeddings AS SELECT CAST(1879 AS BIGINT) "
            "AS vec_id, [CAST(0.3195 AS FLOAT)] AS embedding")
    want = con.sql(f"WITH {_SQL_EMB} SELECT v FROM e").fetchone()[0]
    got = (spark.createDataFrame([(1879, [0.3195])],
                                 "vec_id long, embedding array<float>")
           .select(_quantize("embedding").alias("v")).first()["v"])
    assert want == got == [319]


def _dedup_embedding_over(spark, tmp_path, ids):
    import spellchecker_wasm_spark.queries as Q

    rows = [(i, [float(i), 1.0, 0.5], 0) for i in ids]
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>, "
                                 "label int")
     .write.parquet(str(tmp_path / "embeddings.parquet")))
    got = Q._q_dedup_embedding(spark, str(tmp_path))
    assert got.schema.simpleString() == "struct<vec_a:bigint,vec_b:bigint>"
    return got.collect()


def test_dedup_embedding_empty_capped_slice(spark, tmp_path):
    """An embeddings table with no vec_id under the cap yields no pairs
    (the capped matrix is empty, not a crash)."""
    from spellchecker_wasm_spark.queries import _DEDUP_EMB_CAP

    assert _dedup_embedding_over(
        spark, tmp_path, range(_DEDUP_EMB_CAP, _DEDUP_EMB_CAP + 4)) == []


def test_dedup_embedding_one_row_slice(spark, tmp_path):
    """One vector under the cap has no partner: a 1×1 matmul, no
    pairs (the other three rows are over the cap)."""
    from spellchecker_wasm_spark.queries import _DEDUP_EMB_CAP

    ids = [7, *range(_DEDUP_EMB_CAP, _DEDUP_EMB_CAP + 3)]
    assert _dedup_embedding_over(spark, tmp_path, ids) == []


def test_bucket_pairs_cap_boundary(spark):
    """A bucket of exactly ``cap`` members emits all C(cap, 2) ordered
    pairs; one more member and it emits none (block purging)."""
    from spellchecker_wasm_spark.queries import _bucket_pairs

    cap = 4
    buckets = spark.createDataFrame(
        [("at_cap", list(range(cap))), ("over", list(range(10, 11 + cap))),
         ("single", [20])], "key string, ids array<long>")
    got = _rows(_bucket_pairs(buckets, cap, "x AS a, y AS b"))
    assert got == [(a, b) for a in range(cap) for b in range(a + 1, cap)]
    assert len(got) == cap * (cap - 1) // 2


def test_linkage_fixture_blocks_match_whole_title_explode(spark):
    """The pipeline's two-level blocks over the fixture pdim must stand
    for exactly the (page_id, tl, block_key) multiset of the whole-title
    formulation — substring(title, 1, 7) → delete_key_hash_explode — and
    its hot-key cap must drop nothing: the oracle replays blocking on
    whole titles with no cap."""
    import spellchecker_wasm_spark.queries as Q
    from spellchecker_wasm_spark.functions.delete_hash_expr import (
        delete_key_hash_explode)
    from spellchecker_wasm_spark.pipeline.linkage import (
        blocks_stage, page_block_keys)

    pdim, toks, vk = Q._lk_blocks(spark, SF_DIR)
    capped = page_block_keys(toks, vk)
    dropped = blocks_stage(pdim, Q._LK_CONFIG)[2]
    pref = Q._lk_pages(spark, SF_DIR).select(
        "page_id", F.length("title").alias("tl"),
        F.substring("title", 1, 7).alias("prefix"))
    want = delete_key_hash_explode(pref, "prefix",
                                   keep_cols=["page_id", "tl"])
    cols = ["page_id", "tl", "block_key"]
    got = capped.select(*cols)
    want = want.select(*cols)
    assert got.exceptAll(want).isEmpty()
    assert want.exceptAll(got).isEmpty()
    assert not got.isEmpty()
    assert dropped.isEmpty()
