"""Non-vacuousness guards for the training-data curation suite: the
catalog parity test proves Spark == DuckDB, but both could agree on a
degenerate answer (every rule always-true, zero clusters).  These checks
run the ORACLE side only (no Spark session — fast) and pin that the
fixture actually exercises the interesting branches at both local SFs."""

import os

import pytest

from spellchecker_wasm_spark.queries import CATALOG, duckdb_session

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_quality_rules_bite(sf_dir):
    """Every quality rule must reject at least one doc and keep at least
    one doc (r_maxlen included — thresholds are tuned to the fixture),
    and the final keep flag must split the corpus."""
    sql = CATALOG["quality_filter"][1]
    con = duckdb_session(sf_dir)
    for col in ["r_words", "r_mean", "r_short", "r_maxlen", "r_stop",
                "keep"]:
        lo, hi = con.sql(
            f"SELECT min({col}), max({col}) FROM ({sql})").fetchone()
        assert (lo, hi) == (0, 1), (col, lo, hi)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_dedup_clusters_nontrivial(sf_dir):
    """At least one multi-document cluster exists, singletons are their
    own canonical, and every cluster has exactly one canonical doc."""
    sql = CATALOG["dedup_clusters"][1]
    con = duckdb_session(sf_dir)
    multi = con.sql(
        f"SELECT count(*) FROM (SELECT cluster_id FROM ({sql}) "
        "GROUP BY cluster_id HAVING count(*) >= 2)").fetchone()[0]
    assert multi >= 1
    bad = con.sql(
        f"SELECT count(*) FROM (SELECT cluster_id FROM ({sql}) "
        "GROUP BY cluster_id HAVING sum(is_canonical) <> 1)").fetchone()[0]
    assert bad == 0


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_sample_rates_converge(sf_dir):
    """Per-language realized sampling rates track the configured
    percentages (hash-bucket sampling is exact in expectation; allow a
    generous tolerance at fixture sizes), and the sample is a proper
    subset."""
    sql = CATALOG["sample_stratified"][1]
    con = duckdb_session(sf_dir)
    rows = con.sql(
        "SELECT d.lang, any_value(s.rate_pct), "
        "       count(s.doc_id) * 100.0 / count(*) "
        f"FROM documents d LEFT JOIN ({sql}) s ON d.doc_id = s.doc_id "
        "GROUP BY d.lang").fetchall()
    assert rows
    for lang, rate, realized in rows:
        assert abs(realized - rate) <= 15, (lang, rate, realized)
    total, kept = con.sql(
        f"SELECT (SELECT count(*) FROM documents), "
        f"(SELECT count(*) FROM ({sql}))").fetchone()
    assert 0 < kept < total


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_lang_id_profiles_nontrivial(sf_dir):
    """Every document gets a real prediction (profiles cover the corpus:
    no 'und' fallback rows at these SFs) and more than one language is
    predicted (no degenerate constant argmax)."""
    sql = CATALOG["lang_id"][1]
    con = duckdb_session(sf_dir)
    und, langs = con.sql(
        f"SELECT sum(CASE WHEN pred_lang = 'und' THEN 1 ELSE 0 END), "
        f"count(DISTINCT pred_lang) FROM ({sql})").fetchone()
    assert und == 0
    assert langs >= 2


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_repetition_rules_bite(sf_dir):
    """Every repetition rule must reject and keep at least one doc, and
    the combined keep flag must split the corpus."""
    sql = CATALOG["repetition_stats"][1]
    con = duckdb_session(sf_dir)
    for col in ["r_dup", "r_bigram", "r_run", "keep"]:
        lo, hi = con.sql(
            f"SELECT min({col}), max({col}) FROM ({sql})").fetchone()
        assert (lo, hi) == (0, 1), (col, lo, hi)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_tfidf_topk_shape(sf_dir):
    """Exactly K ranked rows per doc (vocab is larger than K at every
    SF), ranks are 1..K, and scores are non-increasing within a doc."""
    sql = CATALOG["tfidf_topk"][1]
    con = duckdb_session(sf_dir)
    bad_k = con.sql(
        f"SELECT count(*) FROM (SELECT doc_id FROM ({sql}) GROUP BY doc_id "
        "HAVING count(*) <> 5 OR min(rank) <> 1 OR max(rank) <> 5)"
    ).fetchone()[0]
    assert bad_k == 0
    unsorted = con.sql(
        f"SELECT count(*) FROM (SELECT doc_id, score, "
        "lag(score) OVER (PARTITION BY doc_id ORDER BY rank) AS prev "
        f"FROM ({sql})) WHERE prev IS NOT NULL AND prev < score"
    ).fetchone()[0]
    assert unsorted == 0


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_doc_chunks_cover_every_token(sf_dir):
    """Chunking must lose nothing: for every document the union of
    [start, start + n_tokens) intervals covers 1..len(tokens) exactly
    (stride < chunk size guarantees overlap, not gaps), and every chunk
    is non-empty."""
    sql = CATALOG["doc_chunks"][1]
    con = duckdb_session(sf_dir)
    bad = con.sql(f"""
        WITH c AS ({sql}),
        cov AS (SELECT doc_id, max(start + n_tokens - 1) AS covered,
                       min(start) AS first_start, min(n_tokens) AS min_n
                FROM c GROUP BY doc_id),
        want AS (SELECT doc_id,
                        len(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS n
                 FROM documents WHERE text IS NOT NULL
                 AND len(list_filter(string_split(text, ' '),
                                     x -> x <> '')) >= 1)
        SELECT count(*) FROM want JOIN cov USING (doc_id)
        WHERE covered <> n OR first_start <> 1 OR min_n < 1
        """).fetchone()[0]
    assert bad == 0
    missing = con.sql(f"""
        SELECT count(*) FROM documents
        WHERE text IS NOT NULL
        AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1
        AND doc_id NOT IN (SELECT doc_id FROM ({sql}))""").fetchone()[0]
    assert missing == 0


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_simhash_dups_sane(sf_dir):
    """Verified pairs exist, every hamming is within the threshold, and
    pairs are canonical (doc_a < doc_b) and unique."""
    sql = CATALOG["simhash_dups"][1]
    con = duckdb_session(sf_dir)
    n, bad_h, bad_ord = con.sql(
        f"SELECT count(*), "
        f"sum(CASE WHEN hamming BETWEEN 0 AND 3 THEN 0 ELSE 1 END), "
        f"sum(CASE WHEN doc_a < doc_b THEN 0 ELSE 1 END) FROM ({sql})"
    ).fetchone()
    assert n >= 1 and bad_h == 0 and bad_ord == 0
    dups = con.sql(
        f"SELECT count(*) FROM (SELECT doc_a, doc_b FROM ({sql}) "
        "GROUP BY 1, 2 HAVING count(*) > 1)").fetchone()[0]
    assert dups == 0


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_decontaminate_branches_and_truth(sf_dir):
    """Both branches live (some contaminated, some clean), the flag is
    exactly (n_hits > 0), eval docs never appear in the output, and a
    direct Python recompute of one contaminated doc's trigram overlap
    agrees with its n_hits."""
    from spellchecker_wasm_spark.queries import _DECON_MOD, _DECON_N

    sql = CATALOG["decontaminate"][1]
    con = duckdb_session(sf_dir)
    flags = dict(con.sql(
        f"SELECT contaminated, count(*) FROM ({sql}) GROUP BY 1").fetchall())
    assert set(flags) == {0, 1}
    bad = con.sql(
        f"SELECT count(*) FROM ({sql}) "
        "WHERE (n_hits > 0) <> (contaminated = 1)").fetchone()[0]
    assert bad == 0
    ev_in_out = con.sql(
        f"SELECT count(*) FROM ({sql}) WHERE doc_id % {_DECON_MOD} = 0"
    ).fetchone()[0]
    assert ev_in_out == 0
    # ground-truth one row end-to-end in plain Python
    doc_id, n_hits = con.sql(
        f"SELECT doc_id, n_hits FROM ({sql}) WHERE contaminated = 1 "
        "ORDER BY doc_id LIMIT 1").fetchone()

    def grams(text):
        w = [x for x in text.split(" ") if x]
        return {" ".join(w[i:i + _DECON_N])
                for i in range(len(w) - _DECON_N + 1)}

    rows = con.sql("SELECT doc_id, text FROM documents "
                   "WHERE text IS NOT NULL").fetchall()
    ev = set()
    for d, t in rows:
        if d % _DECON_MOD == 0:
            ev |= grams(t)
    mine = grams(dict(rows)[doc_id])
    assert len(mine & ev) == n_hits


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_rare_token_pigeonhole(sf_dir):
    """The broadcast common set is pigeonhole-bounded by 1/share, rare
    mass is conserved (sum n_rare equals total occurrences of rare
    terms), and both branches are live."""
    from spellchecker_wasm_spark.queries import _RARE_SHARE, _SQL_TOKS_NE

    sql = CATALOG["rare_token_stats"][1]
    con = duckdb_session(sf_dir)
    n_common = con.sql(f"""
        WITH toks AS ({_SQL_TOKS_NE}),
        cnt AS (SELECT term, count(*) c FROM toks GROUP BY term),
        tot AS (SELECT sum(c) t FROM cnt)
        SELECT count(*) FROM cnt, tot WHERE c * 1.0 / t >= {_RARE_SHARE}
        """).fetchone()[0]
    assert 1 <= n_common <= int(1 / _RARE_SHARE)
    total_rare, = con.sql(
        f"SELECT sum(n_rare) FROM ({sql})").fetchone()
    direct, = con.sql(f"""
        WITH toks AS ({_SQL_TOKS_NE}),
        cnt AS (SELECT term, count(*) c FROM toks GROUP BY term),
        tot AS (SELECT sum(c) t FROM cnt)
        SELECT sum(c) FROM cnt, tot WHERE c * 1.0 / t < {_RARE_SHARE}
        """).fetchone()
    assert total_rare == direct
    branches = dict(con.sql(
        f"SELECT n_rare > 0, count(*) FROM ({sql}) GROUP BY 1").fetchall())
    assert set(branches) == {False, True}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_token_budget_prefix_property(sf_dir):
    """Within each language the kept set is a doc_id-prefix (once a doc
    is dropped, every later doc is dropped), cum_tokens is the exact
    running sum, and both branches are live."""
    sql = CATALOG["token_budget_mix"][1]
    con = duckdb_session(sf_dir)
    non_prefix = con.sql(f"""
        WITH r AS ({sql}),
        x AS (SELECT lang, doc_id, kept,
                     min(kept) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS prev_min
              FROM r)
        SELECT count(*) FROM x WHERE kept = 1 AND prev_min = 0
        """).fetchone()[0]
    assert non_prefix == 0
    drift = con.sql(f"""
        WITH r AS ({sql})
        SELECT count(*) FROM (
            SELECT cum_tokens,
                   sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS want
            FROM r) WHERE cum_tokens <> want
        """).fetchone()[0]
    assert drift == 0
    branches = dict(con.sql(
        f"SELECT kept, count(*) FROM ({sql}) GROUP BY 1").fetchall())
    assert set(branches) == {0, 1}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_funnel_monotone_and_grounded(sf_dir):
    """Survivors must shrink (weakly) at every stage, stage_0 must equal
    the corpus totals, and every stage must be non-empty — plus the
    admitted stage must be a strict subset of `all` (the funnel bites)."""
    sql = CATALOG["curation_funnel"][1]
    con = duckdb_session(sf_dir)
    rows = {r[0]: (r[2], r[3]) for r in con.sql(sql).fetchall()}
    stages = [f"stage_{i}" for i in range(5)]
    for a, b in zip(stages, stages[1:]):
        assert rows[a][0] >= rows[b][0] >= 0
        assert rows[a][1] >= rows[b][1] >= 0
    n_docs, n_tokens = con.sql(
        "SELECT count(*), sum(len(list_filter(string_split(text, ' '), "
        "x -> x <> ''))) FROM documents WHERE text IS NOT NULL").fetchone()
    assert rows["stage_0"] == (n_docs, n_tokens)
    assert rows["stage_4"][0] >= 1
    assert rows["stage_4"][0] < rows["stage_0"][0]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_length_quantiles_exact_definition(sf_dir):
    """Quantiles are monotone across q and each p_q is EXACTLY the
    smallest value v with ceil(q·n/100) docs at or below v — checked by
    direct counting per language."""
    sql = CATALOG["length_quantiles"][1]
    con = duckdb_session(sf_dir)
    for lang, n_docs, p25, p50, p75, p90 in con.sql(sql).fetchall():
        assert p25 <= p50 <= p75 <= p90
        for q, v in ((25, p25), (50, p50), (75, p75), (90, p90)):
            rank = -(-q * n_docs // 100)  # ceil
            at_or_below, below_prev = con.sql(
                "SELECT sum(CASE WHEN n_chars <= ? THEN 1 ELSE 0 END), "
                "sum(CASE WHEN n_chars < ? THEN 1 ELSE 0 END) "
                "FROM documents WHERE text IS NOT NULL AND lang = ?",
                params=[v, v, lang]).fetchone()
            assert at_or_below >= rank
            assert below_prev < rank


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_kmv_estimate_quality(sf_dir):
    """The KMV estimate must land within the sketch's error envelope
    (3/sqrt(k) relative — generous but falsifiable: the unmixed hash
    measured 290x off), and k_eff must equal min(k, distinct hashes)."""
    from spellchecker_wasm_spark.queries import _KMV_K

    sql = CATALOG["distinct_tokens_kmv"][1]
    con = duckdb_session(sf_dir)
    bound = 3.0 / (_KMV_K ** 0.5)
    for lang, k_eff, h_k, est, n_exact in con.sql(sql).fetchall():
        assert abs(est - n_exact) / n_exact <= bound, (lang, est, n_exact)
        assert k_eff == min(_KMV_K, n_exact) or k_eff <= n_exact


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_pagerank_discriminates(sf_dir):
    """Ranks must spread (not all equal — the iteration actually moved
    mass), every rank carries at least the base mass, and rank must
    correlate with in-degree at the extremes (max in-degree node ranks
    strictly above any zero-in-degree node)."""
    from spellchecker_wasm_spark.queries import _PR_SCALE

    sql = CATALOG["term_pagerank"][1]
    con = duckdb_session(sf_dir)
    rows = con.sql(sql).fetchall()
    ranks = {n: r for n, r in rows}
    assert len(set(ranks.values())) > 1
    base = int(0.15 * _PR_SCALE)
    assert all(r >= base for r in ranks.values())
    indeg = dict(con.sql("""
        WITH arrs AS (SELECT list_filter(string_split(text, ' '),
                                         x -> x <> '') AS l
                      FROM documents WHERE text IS NOT NULL),
        pos AS (SELECT unnest(range(1, (SELECT max(len(l)) + 1
                                        FROM arrs))) AS i),
        e AS (SELECT DISTINCT l[i] AS src, l[i+1] AS dst
              FROM arrs, pos WHERE pos.i < len(l))
        SELECT dst, count(*) FROM e GROUP BY dst""").fetchall())
    top = max(ranks, key=lambda n: indeg.get(n, 0))
    for n, r in ranks.items():
        if indeg.get(n, 0) == 0:
            assert ranks[top] > r


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_kmeans_actually_clusters(sf_dir):
    """The final assignment must use more than one cluster, all squared
    distances are non-negative, and total inertia after the update
    iteration must not exceed the inertia of the INITIAL codebook
    assignment (Lloyd's monotonicity, preserved here because integer
    centroid means still minimize within rounding)."""
    from spellchecker_wasm_spark.queries import _KM_K

    sql = CATALOG["kmeans_lloyd"][1]
    con = duckdb_session(sf_dir)
    rows = con.sql(sql).fetchall()
    clusters = {c for _, c, _ in rows}
    assert 1 < len(clusters) <= _KM_K
    assert all(d2 >= 0 for _, _, d2 in rows)
    final_inertia = sum(d2 for _, _, d2 in rows)
    init_inertia, = con.sql(f"""
        WITH e AS (SELECT vec_id, list_transform(embedding,
                       x -> CAST(round(x * 1000) AS BIGINT)) AS v
                   FROM embeddings),
        c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, v AS c
               FROM e WHERE vec_id < {_KM_K}),
        s AS (SELECT e.vec_id,
                     min(CAST(list_sum(list_transform(list_zip(e.v, c.c),
                         p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT))
                         AS d2
              FROM e CROSS JOIN c0 c GROUP BY e.vec_id)
        SELECT sum(d2) FROM s""").fetchone()
    assert final_inertia <= init_inertia


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_leakage_safe_split_never_straddles(sf_dir):
    """The property the query exists for: no near-dup pair may land in
    two different splits, and all three splits must be populated (the
    guard is vacuous if everything falls in train)."""
    con = duckdb_session(sf_dir)
    sql = CATALOG["leakage_safe_split"][1]
    straddle = con.sql(f"""
WITH s AS ({sql})
SELECT count(*) FROM s a JOIN s b
  ON a.cluster_id = b.cluster_id AND a.split <> b.split""").fetchone()[0]
    assert straddle == 0
    splits = dict(con.sql(
        f"WITH s AS ({sql}) SELECT split, count(*) FROM s GROUP BY split"
    ).fetchall())
    assert set(splits) == {"train", "val", "test"}, splits
    # hash-bucket rates should be in the right ballpark (8/1/1)
    total = sum(splits.values())
    assert splits["train"] > splits["val"]
    assert splits["train"] > splits["test"]
    assert splits["train"] / total > 0.5


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_semdedup_matches_independent_python(sf_dir):
    """semdedup's set-oriented dominance rule must agree exactly with a
    from-the-definition Python SemDeDup (same integer-scaled vectors,
    same (−d2, vec_id) keep-farthest priority — the paper's chosen
    "hard" variant — same cosine threshold), and witness the semantics:
    some vectors are dropped, the majority survive, and the
    farthest-from-centroid vector of every cluster is always kept (it
    precedes every cluster-mate, so nothing can dominate it)."""
    import math

    from spellchecker_wasm_spark.queries import (
        _SEMDEDUP_COS, CATALOG)

    con = duckdb_session(sf_dir)
    vecs = {vid: [int(round(x * 1000)) for x in emb]
            for vid, emb in con.sql(
                "SELECT vec_id, embedding FROM embeddings").fetchall()}
    asg = con.sql(CATALOG["kmeans_lloyd"][1]).fetchall()
    rows = con.sql(CATALOG["semdedup"][1]).fetchall()
    got = {vid: (cl, kept) for vid, cl, kept in rows}
    assert len(got) == len(vecs)

    by_cluster = {}
    for vid, cl, d2 in asg:
        by_cluster.setdefault(cl, []).append((-d2, vid))
    dropped = set()
    for cl, members in by_cluster.items():
        members.sort()
        for i, (d2v, v) in enumerate(members):
            for d2u, u in members[:i]:
                vu, vv = vecs[u], vecs[v]
                dot = sum(a * b for a, b in zip(vu, vv))
                nu = sum(a * a for a in vu)
                nv = sum(a * a for a in vv)
                if dot / (math.sqrt(nu) * math.sqrt(nv)) >= _SEMDEDUP_COS:
                    dropped.add(v)
                    break
    for vid, cl, d2 in asg:
        assert got[vid] == (cl, 0 if vid in dropped else 1), vid
    assert dropped, "threshold never bites"
    assert len(dropped) < len(vecs) / 2, "drops should be the minority"
    for cl, members in by_cluster.items():
        assert min(members)[1] not in dropped, cl
