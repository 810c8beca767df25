#!/usr/bin/env python
"""Mechanical physical-plan audit of the ENTIRE query catalog.

For every CATALOG entry, builds the DataFrame at $SPARK_GRAFT_TEST_SF
(default sf0.001) and counts the load-bearing physical nodes in the
executed plan: exchanges, join strategies, Python eval nodes, generates,
window group-limits.  Emits PLANS_TABLE.md — the per-operator evidence
for the "would this hold at 1000×?" question: a query whose plan shows
zero BatchEvalPython, no CartesianProduct, and bounded exchange counts
degrades predictably with input size; anything else needs a prose
justification in PLANS.md.

Counts come from a walk of the executed plan tree, one count per
node: an adaptive plan contributes its current plan (the initial plan
until it runs, the final plan after), a query stage the plan it wraps,
and a persisted frame's build subtree is walked once per row, however
many times the row reads that frame (every reference still counts as
one InMemoryTableScan).  Each row is built from an empty cache, so its
counts do not depend on which shared persisted frames earlier rows
materialized.  An eager row still materializes what it collects while
it is built: the compound rows count the shared term-count dictionary
(queries._term_counts) by its final plan.

Streaming entries (stream_*) EXECUTE on build (they return the memory
sink's table), so their batch-plan counts are not meaningful here; they
are listed but marked — their stateful plans are audited in PLANS.md
and pinned in tests/test_streaming.py.

The global invariants this table evidences are pinned as a pytest
(tests/test_plan_shapes.py::test_catalog_global_plan_invariants):
no row-at-a-time Python and no unbounded cartesian anywhere in the
batch catalog.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

NODES = [
    ("shuffles", "Exchange hashpartitioning"),
    ("range_ex", "Exchange rangepartitioning"),
    ("bcast_ex", "BroadcastExchange"),
    ("reused", "ReusedExchange"),
    ("smj", "SortMergeJoin"),
    ("shj", "ShuffledHashJoin"),
    ("bhj", "BroadcastHashJoin"),
    ("bnlj", "BroadcastNestedLoopJoin"),
    ("cartesian", "CartesianProduct"),
    ("arrow_py", "ArrowEvalPython"),
    ("batch_py", "BatchEvalPython"),
    ("pandas_grp", "FlatMapGroupsInPandas"),
    ("map_pandas", "MapInPandas"),
    ("generate", "Generate"),
    ("win_limit", "WindowGroupLimit"),
    ("imts", "InMemoryTableScan"),
]


def node_counts(df) -> dict:
    """Node counts of ``df``'s executed plan tree, each persisted
    frame's build subtree counted once."""
    identity = df.sparkSession._jvm.System.identityHashCode
    counts = dict.fromkeys((k for k, _ in NODES), 0)
    built = set()

    def walk(node):
        name = node.nodeName()
        line = node.simpleString(1)
        for k, pat in NODES:
            counts[k] += line.startswith(pat)
        subs = node.children()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan())
        elif node.getClass().getSimpleName().endswith("QueryStageExec"):
            walk(node.plan())
        elif name == "InMemoryTableScan":
            rel = node.relation()
            key = identity(rel.cacheBuilder())
            if key not in built:
                built.add(key)
                walk(rel.cachedPlan())
        for i in range(subs.size()):
            walk(subs.apply(i))
        subq = node.subqueries()
        for i in range(subq.size()):
            walk(subq.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def plan_counts(spark, name: str, sf_dir: str = SF_DIR) -> dict:
    """Node counts of one CATALOG row's executed plan, built from an
    empty cache."""
    from spellchecker_wasm_spark.queries import CATALOG

    spark.catalog.clearCache()
    return node_counts(CATALOG[name][0](spark, sf_dir))


def main() -> int:
    from spellchecker_wasm_spark.queries import CATALOG
    from spellchecker_wasm_spark.session import get_spark

    spark = get_spark("plan_audit", cpus=8)
    rows, bad = [], []
    for name in sorted(CATALOG):
        if name.startswith("stream_"):
            rows.append((name, None))
            continue
        t0 = time.time()
        try:
            counts = plan_counts(spark, name)
        except Exception as exc:  # noqa: BLE001 — audit must list, not die
            bad.append((name, repr(exc)))
            continue
        counts["build_s"] = round(time.time() - t0, 2)
        rows.append((name, counts))

    out = ["# Catalog physical-plan audit (auto-generated)\n",
           f"Input: {SF_DIR}; regenerate with scripts/audit_plans.py.",
           "Counts are nodes of the executed plan tree (AQE initial",
           "plan): `shuffles` = hash-partition exchanges, `bcast` =",
           "broadcast exchanges (cheap, build-side), `reused` = exchange",
           "reuse (shared subtree, free), joins by strategy, Python",
           "eval nodes (Arrow-vectorized vs row-at-a-time), `gen` =",
           "explode fan-outs, `wgl` = WindowGroupLimit (top-k pushdown).",
           "Global invariants (pinned in tests/test_plan_shapes.py):",
           "**zero BatchEvalPython, zero CartesianProduct** across the",
           "batch catalog; BroadcastNestedLoopJoin only where a 1-row or",
           "constant-size frame attaches (bloom bitmap, ARI/KMV scalar",
           "reductions, funnel constants).",
           "`imts` = InMemoryTableScan (persisted frame reference).",
           "Each row is built from an empty cache, and a persisted",
           "frame's build subtree counts once per row, however many",
           "times the row reads it.",
           "The compound rows collect the shared term-count dictionary",
           "while they are built, so they count its final (AQE) plan;",
           "see PLANS.md.\n",
           "| query | shuffles | range | bcast | reused | SMJ | SHJ |"
           " BHJ | BNLJ | cart | arrowPy | batchPy | grpPandas |"
           " mapPandas | gen | wgl | imts |",
           "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|"]
    for name, c in rows:
        if c is None:
            out.append(f"| {name} | *stateful streaming — audited in"
                       f" PLANS.md / tests/test_streaming.py* |"
                       + " |" * 15)
            continue
        out.append("| {} | {} | {} | {} | {} | {} | {} | {} | {} | {} |"
                   " {} | {} | {} | {} | {} | {} | {} |".format(
                       name, c["shuffles"], c["range_ex"], c["bcast_ex"],
                       c["reused"], c["smj"], c["shj"], c["bhj"],
                       c["bnlj"], c["cartesian"], c["arrow_py"],
                       c["batch_py"], c["pandas_grp"], c["map_pandas"],
                       c["generate"], c["win_limit"], c["imts"]))
    if bad:
        out.append("\n## Build failures\n")
        out += [f"- {n}: {e}" for n, e in bad]

    # global invariant summary
    tot = {k: sum(c[k] for _, c in rows if c) for k, _ in NODES}
    out.append("\n## Totals\n")
    out.append(", ".join(f"{k}={v}" for k, v in tot.items()))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS_TABLE.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("batch entries audited:", sum(1 for _, c in rows if c),
          "streaming skipped:", sum(1 for _, c in rows if c is None),
          "failures:", len(bad))
    print("totals:", {k: v for k, v in tot.items()
                      if k in ("batch_py", "cartesian", "bnlj",
                               "arrow_py", "shuffles")})
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
