"""Transitive clustering: connected components over scored pairs — the
stage the north rule adds on top of the reference (which stops at
pairwise suggestions).

One lazy plan, no GraphFrames: ``max_iter`` large-star / small-star
rounds (Kiveris et al., "Connected Components in MapReduce and Beyond")
optionally shrink the edge set, then a union-find finisher runs in one
``mapInPandas`` task over the remaining edges.  Each star round
preserves connectivity, so the finisher is exact after any number of
rounds.

Output: (node, component) where component is the minimum member id —
deterministic for longs and strings alike.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    mins = (sym.groupBy("src")
            .agg(F.min("dst").alias("min_nbr"))
            .select("src", F.least("src", "min_nbr").alias("m")))
    return (sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonicalize edges (src > dst), then for each node u: connect all
    smaller neighbors (and u) to the minimum."""
    canon = (edges.where(F.col("src") != F.col("dst"))
             .select(F.greatest("src", "dst").alias("src"),
                     F.least("src", "dst").alias("dst")))
    mins = canon.groupBy("src").agg(F.min("dst").alias("m"))
    joined = canon.join(mins, "src")
    nbr_edges = (joined.where(F.col("dst") != F.col("m"))
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
    self_edges = joined.select("src", F.col("m").alias("dst"))
    return nbr_edges.union(self_edges).distinct()


def _union_find(rows) -> dict:
    """Weighted quick-union with path halving over (src, dst) edge
    rows → {node: min member of its component}."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union toward the smaller id so component == min member
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def _finish(batches):
    """mapInPandas body: every edge batch of the single partition →
    one (node, component) frame."""
    comp = _union_find(pair for pdf in batches
                       for pair in zip(pdf["src"].tolist(),
                                       pdf["dst"].tolist()))
    yield pd.DataFrame({"node": list(comp.keys()),
                        "component": list(comp.values())})


def connected_components(edges: DataFrame, src_col: str = "id_a",
                         dst_col: str = "id_b", max_iter: int = 0,
                         nodes: DataFrame | None = None) -> DataFrame:
    """edges(src,dst) → (node, component=min id in component).

    ``nodes`` (single-column) adds isolated nodes as their own singleton
    components — pass the full entity table so every row gets a cluster id.
    Edges with a NULL endpoint are dropped.

    Building the result runs no Spark job unless ``max_iter`` > 0: each
    of the ``max_iter`` star rounds ahead of the finisher is
    materialized with ``localCheckpoint`` when the frame is built.

    Memory: the finisher task keeps one dict entry per node that an edge
    touches; the edges stream through it in Arrow batches.  Measured
    calling the finisher in one Python process on 100k-row batches (4-vCPU
    host; growth of peak RSS over the loaded batches, output frame
    included): 1M random edges (864k nodes) took 2.6 s and +151 MB, 4M
    edges (3.46M nodes) 12.8 s and +551 MB.  Star rounds shrink the edges
    shipped to that task, not the node set it holds.
    """
    node_type = edges.schema[src_col].dataType
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
    schema = T.StructType([T.StructField("node", node_type),
                           T.StructField("component", node_type)])
    assign = e.repartition(1).mapInPandas(_finish, schema)
    if nodes is not None:
        node_col = nodes.columns[0]
        # one left join instead of anti-join + union (2 stages → 1):
        # isolated nodes become their own singleton components
        assign = (nodes.select(F.col(node_col).alias("node")).distinct()
                  .join(assign, "node", "left")
                  .select("node", F.coalesce("component", "node")
                          .alias("component")))
    return assign
