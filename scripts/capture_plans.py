#!/usr/bin/env python
"""Capture .explain("formatted") output for catalog queries into
plans/<round>/<query>_<tag>.txt (round-6 deliverable: before/after plan
evidence for every query touched this round).

Plans are written with their session-local ids masked (``mask_plan``),
so two captures of the same plan diff clean.

Usage:
  python scripts/capture_plans.py <tag> q1,q2,...   # tag = before|after
  SPARK_GRAFT_SF_DIR overrides the data dir (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ids a plan gets from its session, not from its shape: expression ids
# (``page_id#123L``), exchange plan ids, whole-stage-codegen stage ids,
# the operator a ReusedExchange points at and AQE query-stage ids (the
# ``Arguments:`` line of a ``(n) ShuffleQueryStage`` node)
_SESSION_IDS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen (N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"Reuses operator id: \d+"), "Reuses operator id: N"),
    (re.compile(r"(\(\d+\) \w*QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+"),
     r"\g<1>N"),
]


def mask_plan(plan: str) -> str:
    """``plan`` with every session-local id replaced by ``N``."""
    for pattern, repl in _SESSION_IDS:
        plan = pattern.sub(repl, plan)
    return plan


def formatted_plan(df) -> str:
    """The masked ``explain("formatted")`` text of ``df``."""
    spark = df.sparkSession
    return mask_plan(df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")))


def main() -> None:
    from spellchecker_wasm_spark.session import get_spark

    tag = sys.argv[1]
    names = sys.argv[2].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rnd = os.environ.get("PLANS_ROUND", "r06")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    from spellchecker_wasm_spark.queries import CATALOG
    for name in names:
        fn, _ = CATALOG[name]
        spark.sparkContext.setJobDescription(f"plan:{name}")
        plan = formatted_plan(fn(spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
