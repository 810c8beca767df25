"""Structural plan-shape regression tests: PLANS.md documents WHY each
headline plan is scale-safe; these tests pin the load-bearing physical
properties so a refactor that silently reintroduces a join, a Python
eval node, or an unpushed filter fails here instead of in a bench
round.  Assertions target properties stable under AQE re-planning
(node presence/absence, scan-level pushdown), never exchange counts."""

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(spark, name):
    from spellchecker_wasm_spark.queries import CATALOG

    df = CATALOG[name][0](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _count(plan, node):
    return plan.count(node)


def test_dup_ngram_spans_single_explode(spark):
    # the window-sum rewrite exists to traverse the explode ONCE
    plan = _plan(spark, "dup_ngram_spans")
    assert _count(plan, "Generate explode") == 1, plan


def test_dedup_ngram_jaccard_joinless(spark):
    # one-scan inverted index: aggregations + window only, zero joins
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert "Join" not in plan, plan


def test_dedup_tfidf_cosine_joinless(spark):
    plan = _plan(spark, "dedup_tfidf_cosine")
    assert "Join" not in plan, plan


def test_blocking_keys_is_pure_catalyst(spark):
    # round-2 headline win: delete-key generation never leaves the JVM
    plan = _plan(spark, "blocking_keys")
    assert "EvalPython" not in plan, plan


def test_scored_pairs_osa_single_arrow_eval(spark):
    # exactly one Arrow exchange above the pair join — the scorer
    plan = _plan(spark, "scored_pairs_osa")
    assert _count(plan, "ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan  # no row-at-a-time UDF


def test_tpch_q3_pushdown_and_broadcast(spark):
    plan = _plan(spark, "tpch_q3")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_tpch_q5_date_filter_reaches_scan(spark):
    plan = _plan(spark, "tpch_q5")
    assert "GreaterThanOrEqual(o_orderdate," in plan, plan
    assert "LessThan(o_orderdate," in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_tfidf_topk_uses_group_limit(spark):
    # per-doc top-K must be a WindowGroupLimit, never a global sort
    plan = _plan(spark, "tfidf_topk")
    assert "WindowGroupLimit" in plan, plan


def test_sample_stratified_is_map_only(spark):
    plan = _plan(spark, "sample_stratified")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_scans_prune_columns(spark):
    # column pruning reaches parquet: the documents scan for token
    # counting must not read the full row
    plan = _plan(spark, "token_counts")
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans, plan
    for ln in scans:
        assert "text" in ln.split("ReadSchema:")[-1], ln
        assert "source" not in ln.split("ReadSchema:")[-1], ln


@pytest.mark.parametrize("name", ["dup_span_removal", "dup_span_pairs"])
def test_span_family_no_cartesian(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fellegi_sunter_pure_codegen_decision_layer(spark):
    # the FS decision layer is ONE codegen projection over the linkage
    # fixture's scored pair set: the fixture's single ArrowEvalPython
    # (the OSA scorer) and exactly the fixture's own joins (its cached
    # plan is printed inside fellegi_sunter's) — the weights/decision
    # add NO join, NO Python, NO cartesian
    from spellchecker_wasm_spark.queries import _lk_scored

    plan_fs = _plan(spark, "fellegi_sunter")
    _, scored = _lk_scored(spark, SF_DIR)
    plan_scored = scored._jdf.queryExecution().executedPlan().toString()
    assert _count(plan_fs, "ArrowEvalPython") == 1, plan_fs
    assert "BatchEvalPython" not in plan_fs, plan_fs
    assert _count(plan_fs, "Join") == _count(plan_scored, "Join"), plan_fs
    assert "CartesianProduct" not in plan_fs, plan_fs
    assert "BroadcastNestedLoop" not in plan_fs, plan_fs


def test_bloom_prefilter_sits_under_the_join(spark):
    # the hand-rolled runtime Bloom filter must prune the probe side
    # BEFORE the equi-join: the 1-row bitmap attaches via a broadcast
    # nested-loop (the only sanctioned BNLJ in the catalog — one row by
    # construction), the bit-test filter is pure codegen (no Python),
    # and exactly one equi-join remains above it
    plan = _plan(spark, "bloom_prefilter_join")
    assert "EvalPython" not in plan, plan
    assert _count(plan, "BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan
    # bitmap probe (shiftright bit test) appears below the hash join:
    # the BNLJ bitmap attach must be a descendant of the equi-join side
    hash_join_at = plan.find("Join LeftSemi") if "LeftSemi" in plan \
        else plan.find("HashJoin")
    bnlj_at = plan.find("BroadcastNestedLoopJoin")
    assert 0 <= hash_join_at < bnlj_at, plan
    # the build-side selective filters reach the orders scan
    assert "EqualTo(o_orderpriority,1-URGENT)" in plan, plan


def test_fs_em_step_single_global_agg(spark):
    # M-step = one map-combined global aggregate (partial+final pair)
    # then a constant-width stack; no join, no Python above the fixture
    plan = _plan(spark, "fs_em_step")
    assert _count(plan, "ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize("name", ["word_counts", "lookup_top",
                                  "compound_known", "blocking_keys"])
def test_vocabulary_rows_share_one_dictionary(spark, name):
    # every vocabulary row reads ONE persisted (term, count) frame:
    # building any of them from an empty cache registers the unfiltered
    # corpus aggregate itself, not a filtered or re-derived copy
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from spellchecker_wasm_spark.queries import CATALOG, _tokens

    spark.catalog.clearCache()
    CATALOG[name][0](spark, SF_DIR)
    counts = (_tokens(spark, SF_DIR).groupBy("term")
              .agg(F.count(F.lit(1)).alias("count")))
    assert counts.storageLevel != StorageLevel.NONE, name


# catalog entries that EXECUTE work on construction (streaming memory
# sinks, EM collect loops, checkpoint/sink round-trips) — their batch
# plans are audited in scripts/audit_plans.py + PLANS.md instead of here
_EAGER = ("stream_", "fs_round2", "fs_converged", "checkpoint_resume",
          "stage_lineage", "sink_", "source_", "incremental_linkage")


# lazy catalog entries whose builder still runs a job today, each with
# the reason; every other entry must build without scheduling one
# (ROADMAP aim 3: building a DataFrame never runs a job)
_BUILD_RUNS_JOBS = {
    # the kernel needs the whole dictionary on the driver
    # (operators/compound._collect_dict)
    **{name: "collects the dictionary into the SymSpell kernel"
       for name in ("compound_correct", "compound_known", "compound_merge",
                    "compound_split", "word_segmentation")},
}


def test_catalog_global_plan_invariants(spark):
    """The two invariants every batch plan in the catalog must hold at
    any scale: no row-at-a-time Python (BatchEvalPython — Arrow only)
    and no unbounded cartesian product (CartesianProduct; the catalog's
    BroadcastNestedLoopJoins are constant-size attaches, audited in
    PLANS_TABLE.md).  Builds every lazy entry's executed plan, and
    asserts that building it schedules no Spark job unless the entry is
    in _BUILD_RUNS_JOBS."""
    from spellchecker_wasm_spark.queries import CATALOG

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    offenders = {}
    ran_jobs = {}
    for name in sorted(CATALOG):
        if any(name.startswith(p) or name == p.rstrip("_")
               for p in _EAGER):
            continue
        group = f"build:{name}"
        sc.setJobGroup(group, "catalog construction must schedule no jobs")
        try:
            df = CATALOG[name][0](spark, SF_DIR)
        finally:
            sc.setJobGroup("", "")
        # the status tracker is fed by the listener bus; drain it so a
        # job the build just ran cannot be missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(group)
        if jobs:
            ran_jobs[name] = sorted({
                tracker.getStageInfo(s).name for j in jobs
                for s in tracker.getJobInfo(j).stageIds
                if tracker.getStageInfo(s)})
        plan = df._jdf.queryExecution().executedPlan().toString()
        bad = {n: plan.count(n)
               for n in ("BatchEvalPython", "CartesianProduct")
               if n in plan}
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
    eager = {n: st for n, st in ran_jobs.items()
             if n not in _BUILD_RUNS_JOBS}
    assert not eager, f"construction scheduled jobs: {eager}"
    # a listed entry that now builds lazily (or is gone) leaves the list
    stale = set(_BUILD_RUNS_JOBS) - set(ran_jobs)
    assert not stale, f"drop from _BUILD_RUNS_JOBS: {sorted(stale)}"


def test_semdedup_bucket_collect_no_pair_join(spark):
    # the dominance pass is a groupBy-collect + HOF scan, NOT a
    # within-cluster self-join: no equi-join node may appear (the only
    # joins are the constant-size broadcast codebook attaches), and the
    # whole query stays Python-free
    plan = _plan(spark, "semdedup")
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "CartesianProduct", "EvalPython"):
        assert node not in plan, (node, plan)


def test_monge_elkan_stays_jvm(spark):
    # the comparator is nested higher-order functions around the builtin
    # levenshtein — zero Python eval nodes, and the inner distance must
    # actually be the JVM builtin
    plan = _plan(spark, "scored_pairs_monge_elkan")
    assert "EvalPython" not in plan, plan
    assert "levenshtein(" in plan, plan


def test_soft_tfidf_single_arrow_eval(spark):
    # the Jaro-Winkler θ-gated dot is the ONE Python crossing (the
    # asNondeterministic guard stops Catalyst duplicating it); weights,
    # norms, token arrays and the normalization all stay in codegen,
    # and nothing quadratic in the corpus exists (no cartesian)
    plan = _plan(spark, "scored_pairs_soft_tfidf")
    assert _count(plan, "ArrowEvalPython") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_affine_gap_single_arrow_eval(spark):
    # the integer Gotoh DP is the ONE Python crossing over the audited
    # blocking join; normalization stays in codegen
    plan = _plan(spark, "scored_pairs_affine_gap")
    assert _count(plan, "ArrowEvalPython") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_prefix_jaccard_stays_jvm(spark):
    # the exact SSJoin is pure Catalyst: window df, per-doc pack,
    # slim prefix self-join, candidate-bounded verify — no Python,
    # nothing quadratic in the corpus
    plan = _plan(spark, "dedup_prefix_jaccard")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
