"""Similarity search over an embedding column (array<float>).

Two paths, per the training-data-pipeline requirement:

* ``brute_force_topk`` — exact cosine top-k; the baseline.  Quantizes
  embeddings to integer milli-units so dot products are exact longs
  (order-independent, engine-portable — the same trick the oracle SQL
  uses) and ranking is deterministic.
* ``lsh_bucketed_topk`` — the scale path: sign-random-projection (SimHash
  for vectors) buckets with multi-probe (Hamming ≤ 1), exact re-ranking
  inside candidate buckets.  Hyperplanes derive deterministically from
  md5(seed:plane:dim) so the bucketing is reproducible in SQL as well.
  Candidate volume drops from O(N²) to O(N²/2^planes · probes), which is
  what makes 10^12-scale ANN joins feasible; recall is tunable via
  n_planes/probes and is property-tested against the brute-force baseline.
* ``ivf_topk`` — the other standard scale path (FAISS-style IVF): a small
  centroid codebook partitions the corpus into cells (coarse
  quantization); queries probe only their ``n_probe`` nearest cells and
  re-rank exactly inside them.  The codebook here is a deterministic
  stand-in (the ``n_cells`` lowest-id vectors) — a real pipeline would
  k-means offline and broadcast the trained codebook through exactly the
  same two joins, so the *Spark shape* (broadcast codebook → map-side
  assignment with partial-agg argmax → broadcast probe join on cell) is
  the one that matters at 100 TB: the corpus is never shuffled except one
  narrow per-vector aggregation, and no pairwise join touches vectors
  outside probed cells.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window, functions as F

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, "
        "(a, x) -> a + x)")
_NRM = "aggregate(v, 0L, (a, x) -> a + x * x)"


def _quantize(vec_col: str):
    """The embedding column in exact BIGINT milli-units."""
    return F.expr(f"transform({vec_col}, x -> "
                  "CAST(round(x * 1000) AS BIGINT))")


def _prep(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return (embeddings
            .select(F.col(id_col).alias("vid"), _quantize(vec_col).alias("v"))
            .withColumn("nrm", F.expr(_NRM)))


def _topk(cand: DataFrame, k: int) -> DataFrame:
    """Exact-cosine re-rank of candidate rows (qid, qv, qn) × (vid, v,
    nrm) → the k best per query as (query_id, neighbor_id, rank, cos),
    ties broken by the lower neighbor id."""
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("vid"))
    return (cand.withColumn("cos", F.expr(_DOT.format(a="qv", b="v"))
                            / (F.sqrt("qn") * F.sqrt("nrm")))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("qid").alias("query_id"),
                    F.col("vid").alias("neighbor_id"), "rank", "cos"))


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """queries × embeddings exact cosine top-k →
    (query_id, neighbor_id, rank, cos).  Broadcast the smaller side."""
    base = _prep(embeddings, id_col, vec_col)
    q = _prep(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"))
    return _topk(q.join(F.broadcast(base), F.col("vid") != F.col("qid")), k)


def _centroids(base: DataFrame, n_cells: int) -> DataFrame:
    """Deterministic codebook: the n_cells lowest-id vectors.  Swap-in
    point for a trained (k-means) codebook — everything downstream only
    needs (cid, cv, cn)."""
    return (base.where(F.col("vid") < n_cells)
            .select(F.col("vid").cast("int").alias("cid"),
                    F.col("v").alias("cv"), F.col("nrm").alias("cn")))


def _cell_scores(side: DataFrame, cent: DataFrame) -> DataFrame:
    """side × broadcast codebook with centroid cosine — the map-side
    fan-out is n_cells per vector, reduced before any exchange."""
    return (side.crossJoin(F.broadcast(cent))
            .withColumn("ccos",
                        F.expr(_DOT.format(a="v", b="cv"))
                        / (F.sqrt("nrm") * F.sqrt("cn"))))


def ivf_assign(embeddings: DataFrame, n_cells: int = 16,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Coarse-quantize every vector to its nearest centroid →
    (vid, v, nrm, cell).  max_by over struct(ccos, -cid) is the argmax
    with cosine-DESC, cid-ASC tie-break, and it partial-aggregates
    map-side, so the only shuffle is one narrow row per vector."""
    base = _prep(embeddings, id_col, vec_col)
    cent = _centroids(base, n_cells)
    return (_cell_scores(base, cent)
            .groupBy("vid")
            .agg(F.max_by("cid", F.struct(F.col("ccos"),
                                          (-F.col("cid")).alias("nc")))
                 .alias("cell"),
                 F.first("v").alias("v"), F.first("nrm").alias("nrm")))


def ivf_assign_arrow(embeddings: DataFrame, n_cells: int = 16,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Same contract and bit-identical result as ``ivf_assign``, but the
    N×K assignment dots run as one numpy int64 matmul per Arrow batch
    instead of interpreted zip_with/aggregate expressions — the
    vectorized-UDF exception to "UDFs are the slow path" (measured 2.4×
    end-to-end on the 200k-vector ANN bench; the HOF fan-out was the
    bottleneck).  The codebook is collected to the driver (K×dims longs —
    the FAISS-style trained-codebook contract, bounded by n_cells) and
    closed over, so the stage is map-only: no join, no fan-out, one
    narrow output row per vector.

    Exactness: v quantizes to round(x·1000) int64 exactly as _prep;
    int64 dots are exact (64 dims × 10^6 « 2^63); cosines divide by the
    same sqrt-of-long doubles the JVM path uses, so IEEE doubles match
    bit-for-bit; np.argmax takes the first maximum = lowest cid, the
    same (ccos DESC, cid ASC) tie-break as max_by(struct(ccos, -cid)).
    Equivalence is pytest-asserted against ivf_assign on the fixture.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    base = _prep(embeddings, id_col, vec_col)
    cent_rows = sorted(_centroids(base, n_cells).collect(),
                       key=lambda r: r["cid"])
    cv = np.array([r["cv"] for r in cent_rows], dtype=np.int64)   # K×D
    cn = np.sqrt(np.array([r["cn"] for r in cent_rows], dtype=np.int64)
                 .astype(np.float64))                              # K

    schema = T.StructType([
        T.StructField("vid", T.LongType()),
        T.StructField("v", T.ArrayType(T.LongType())),
        T.StructField("nrm", T.LongType()),
        T.StructField("cell", T.IntegerType()),
    ])

    def assign(batches):
        for pdf in batches:
            v = np.array(pdf["v"].tolist(), dtype=np.int64)        # B×D
            nrm = pdf["nrm"].to_numpy(dtype=np.int64)
            dots = v @ cv.T                                        # B×K
            cos = dots / (np.sqrt(nrm.astype(np.float64))[:, None]
                          * cn[None, :])
            yield pd.DataFrame({
                "vid": pdf["vid"], "v": pdf["v"], "nrm": pdf["nrm"],
                "cell": np.argmax(cos, axis=1).astype(np.int32)})

    return base.mapInPandas(assign, schema)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 16, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             assign_impl: str = "jvm") -> DataFrame:
    """IVF ANN top-k: queries probe their n_probe nearest cells, exact
    cosine re-rank inside → (query_id, neighbor_id, rank, cos).
    ``assign_impl``: "jvm" (pure Catalyst, oracle-reproducible end to
    end) or "arrow" (numpy-matmul assignment, bit-identical, faster at
    corpus scale)."""
    assigner = ivf_assign_arrow if assign_impl == "arrow" else ivf_assign
    assigned = assigner(embeddings, n_cells, id_col, vec_col)
    qbase = _prep(queries, id_col, vec_col)
    cent = _centroids(_prep(embeddings, id_col, vec_col), n_cells)
    pw = Window.partitionBy("vid").orderBy(F.desc("ccos"), F.asc("cid"))
    probes = (_cell_scores(qbase, cent)
              .withColumn("pr", F.row_number().over(pw))
              .where(F.col("pr") <= n_probe)
              .select(F.col("vid").alias("qid"), F.col("v").alias("qv"),
                      F.col("nrm").alias("qn"), F.col("cid").alias("cell")))
    # probe side is |queries|·n_probe rows → broadcast; the corpus scan
    # joins it without shuffling
    return _topk(assigned.join(F.broadcast(probes), "cell")
                 .where(F.col("vid") != F.col("qid"))
                 .dropDuplicates(["qid", "vid"]), k)


def _hyperplane(seed: int, plane: int, dim: int) -> int:
    """Deterministic signed int in [-8, 8) from md5 — reproducible in SQL:
    (hex→int % 16) - 8."""
    h = hashlib.md5(f"{seed}:{plane}:{dim}".encode()).hexdigest()
    return int(h[:15], 16) % 16 - 8


def lsh_signature_expr(n_planes: int, n_dims: int, seed: int = 7):
    """Column expression: sign-random-projection bucket id (long) of the
    quantized embedding column `v`."""
    plane_terms = []
    for p in range(n_planes):
        coeffs = [_hyperplane(seed, p, d) for d in range(n_dims)]
        arr = "array(" + ",".join(f"{c}L" for c in coeffs) + ")"
        plane_terms.append(f"(CASE WHEN {_DOT.format(a='v', b=arr)} > 0 "
                           f"THEN {1 << p}L ELSE 0L END)")
    return F.expr(" + ".join(plane_terms))


def lsh_buckets(embeddings: DataFrame, n_planes: int = 8, seed: int = 7,
                id_col: str = "vec_id",
                vec_col: str = "embedding", *, n_dims: int) -> DataFrame:
    """(vec_id, bucket) — the blocking stage of ANN.

    ``n_dims`` is the embedding dimensionality (part of any real table's
    schema contract), passed in so plan construction stays action-free."""
    base = _prep(embeddings, id_col, vec_col)
    return base.withColumn("bucket",
                           lsh_signature_expr(n_planes, n_dims, seed))


def lsh_bucketed_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                      n_planes: int = 8, seed: int = 7, probe_hamming: int = 1,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding", *,
                      n_dims: int) -> DataFrame:
    """ANN top-k: join on LSH bucket (query side multi-probes all buckets
    within Hamming distance ``probe_hamming``), exact cosine re-rank."""
    base = lsh_buckets(embeddings, n_planes, seed, id_col, vec_col,
                       n_dims=n_dims)
    qb = lsh_buckets(queries, n_planes, seed, id_col, vec_col,
                     n_dims=n_dims)
    # multi-probe: query explodes to its bucket plus single-bit flips
    flips = [F.col("bucket")] + [
        F.expr(f"CAST(bucket AS BIGINT) ^ {1 << p}L")
        for p in range(n_planes if probe_hamming >= 1 else 0)]
    q = (qb.select(F.col("vid").alias("qid"), F.col("v").alias("qv"),
                   F.col("nrm").alias("qn"),
                   F.explode(F.array(*flips)).alias("bucket")))
    return _topk(q.join(base, "bucket")
                 .where(F.col("vid") != F.col("qid"))
                 .dropDuplicates(["qid", "vid"]), k)


def _lloyd_step_arrow(e: DataFrame, cent: DataFrame,
                      id_col: str) -> DataFrame:
    """One Lloyd assignment step as a numpy int64 matmul per Arrow batch
    — bit-identical to the HOF step (exact integer d² = |v|² − 2v·c +
    |c|²; ``np.argmin`` keeps the FIRST minimum = lowest cid, the same
    (d2, cid) tie-break as the window).  The codebook is collected to
    the driver (k×dims longs — the trained-codebook contract
    ``ivf_assign_arrow`` documents), so the step is map-only.  Eager:
    collecting the codebook of iteration i executes iteration i−1; the
    lazy HOF path remains the catalog default."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cent_rows = sorted(cent.collect(), key=lambda r: r["cid"])
    C = np.array([r["c"] for r in cent_rows], dtype=np.int64)
    cids = np.array([r["cid"] for r in cent_rows], dtype=np.int32)
    cn2 = (C * C).sum(axis=1)

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("cid", T.IntegerType()),
        T.StructField("v", T.ArrayType(T.LongType())),
        T.StructField("d2", T.LongType()),
    ])

    def assign(batches):
        for pdf in batches:
            V = np.array(pdf["v"].tolist(), dtype=np.int64)
            d2 = ((V * V).sum(axis=1)[:, None] - 2 * (V @ C.T)
                  + cn2[None, :])
            j = np.argmin(d2, axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col], "cid": cids[j], "v": pdf["v"],
                "d2": d2[np.arange(len(j)), j]})

    return e.mapInPandas(assign, schema)


def lloyd_assign(emb: DataFrame, k: int, iters: int = 2,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 assign: str = "hof") -> DataFrame:
    """Integer-exact Lloyd k-means assignment: quantizes vectors to
    milli-units (exact BIGINT arithmetic — engine-portable, order-free),
    seeds centroids from the ``k`` lowest ids (ids must cover 0..k-1;
    a real pipeline would plug any offline codebook into the same
    plan), and iterates broadcast-codebook argmin + integer-mean
    update.  Returns (id_col, cid, v, d2) with ``v`` the quantized
    vector and ``d2`` the exact squared distance to the winning
    centroid.

    Plan: the codebook (k rows) is broadcast every iteration — the
    corpus is never shuffled for assignment; the argmin compiles to
    WindowGroupLimit; the update shuffles k·dims partial sums with
    map-side combine.  (The catalog's ``kmeans_lloyd`` row pins this
    operator against an exact DuckDB replay.)

    ``assign="arrow"`` swaps the N×k interpreted zip_with/aggregate
    distance fan-out for one numpy matmul per Arrow batch
    (``_lloyd_step_arrow``) — bit-identical, pytest-pinned, and the
    knob that matters at real k: at 50k vectors × k=250 the HOF
    assignment measured 93 s against 9 s for everything else
    (scripts/bench_semdedup.py).  Same trade as ``ivf_assign_arrow``."""
    e = emb.select(F.col(id_col), _quantize(vec_col).alias("v"))
    if assign == "arrow" and iters > 1:
        # The arrow path is EAGER per iteration: each codebook collect
        # embeds the k×dims array in the next step's closure, so
        # iteration i's collect re-executes exactly ONE assignment over
        # e (lineage is truncated at the literal codebook — linear in
        # iters, not quadratic), but it re-reads the source per
        # iteration; persist the quantized input so every assignment
        # and the final action scan memory instead.
        e = e.persist()
    cent = (e.where(F.col(id_col) < k)
            .select(F.col(id_col).cast("int").alias("cid"),
                    F.col("v").alias("c")))
    w = Window.partitionBy(id_col).orderBy("d2", "cid")
    asg = None
    for it in range(iters):
        if assign == "arrow":
            asg = _lloyd_step_arrow(e, cent, id_col)
        else:
            scored = (e.crossJoin(F.broadcast(cent))
                      .withColumn("d2", F.expr(
                          "aggregate(zip_with(v, c, (x, y) -> (x - y) * "
                          "(x - y)), 0L, (acc, z) -> acc + z)")))
            asg = (scored.withColumn("rn", F.row_number().over(w))
                   .where(F.col("rn") == 1)
                   .select(id_col, "cid", "v", "d2"))
        if it < iters - 1:
            pos = asg.select("cid", F.posexplode("v").alias("i", "val"))
            cent = (pos.groupBy("cid", "i")
                    .agg(F.sum("val").alias("s"),
                         F.count(F.lit(1)).alias("n"))
                    .select("cid", "i", F.expr("s div n").alias("m"))
                    .groupBy("cid")
                    .agg(F.array_sort(F.collect_list(F.struct("i", "m")))
                         .alias("arr"))
                    .select("cid", F.expr("transform(arr, p -> p.m)")
                            .alias("c")))
    return asg


def semdedup(emb: DataFrame, k: int, iters: int = 2,
             threshold: float = 0.35, id_col: str = "vec_id",
             vec_col: str = "embedding", assign: str = "hof") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means confines
    the quadratic cosine check to clusters; within any near-dup pair at
    cosine ≥ ``threshold`` one vector is dropped.  The kept one is the
    paper's chosen rule — the example with the LOWEST similarity to its
    cluster centroid (their "hard" variant; here the largest exact
    centroid distance d2, the integer-exact proxy for lowest centroid
    cosine).  Returns (id_col, cluster, is_kept) for the whole corpus.

    The drop rule is pairwise dominance — drop v iff some same-cluster
    u with cos(u, v) ≥ threshold precedes it in (−d2, id) order — an
    order-free set-oriented equivalent of the paper's greedy scan.

    Plan: ``lloyd_assign``'s plan plus ONE bucket-collect — groupBy(cid)
    gathers each cluster sorted by priority, a nested-HOF scan marks
    every vector with a similar predecessor, an explode restores rows.
    The Lloyd subtree is referenced exactly once and no pair row ever
    crosses an exchange; per-cluster work is size², bounded by choosing
    k ≈ N/⟨cluster size⟩ (the paper's knob)."""
    asg = lloyd_assign(emb, k, iters, id_col, vec_col, assign)
    # priority key: ascending ord = −d2, so the far vector dominates;
    # d2 ≥ 0 so the negation is BIGINT-safe
    grouped = (asg.withColumn("nrm", F.expr(_NRM))
               .groupBy("cid")
               .agg(F.array_sort(F.collect_list(F.struct(
                   (-F.col("d2")).alias("ord"), F.col(id_col), "v",
                   "nrm"))).alias("ms")))
    # predecessor check via an index-guarded inner transform: `j < i AND
    # cos >= t` short-circuits so exactly size²/2 dots run per cluster,
    # and no array is copied (a slice(ms, 1, i) formulation memcpys
    # O(size²) vector prefixes per cluster)
    dot = _DOT.format(a="u.v", b="m.v")
    marked = grouped.select(
        "cid", F.explode(F.expr(
            f"transform(ms, (m, i) -> struct(m.{id_col} AS {id_col}, "
            f"array_contains(transform(ms, (u, j) -> j < i AND {dot} "
            f"/ (sqrt(u.nrm) * sqrt(m.nrm)) >= {threshold}), true) "
            "AS drp))")).alias("r"))
    return marked.select(
        F.col(f"r.{id_col}").alias(id_col), F.col("cid").alias("cluster"),
        F.when(F.col("r.drp"), 0).otherwise(1).cast("int")
        .alias("is_kept"))
