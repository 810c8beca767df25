"""scripts/capture_plans.mask_plan: two formatted captures of one plan
that differ only in session-local ids must mask to the same text, and a
real shape difference must survive the mask.  No Spark session."""

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "capture_plans",
    Path(__file__).resolve().parent.parent / "scripts" / "capture_plans.py")
capture_plans = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(capture_plans)

_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- * Project (8)
   +- * ShuffledHashJoin Inner BuildRight (7)
      :- Exchange (3)
      :  +- * Filter (2)
      :     +- Scan parquet  (1)
      +- ShuffleQueryStage (5)
         +- ReusedExchange (6)


(2) Filter [codegen id : {c1}]
Input [2]: [page_id#{a}L, title#{b}]
Condition : isnotnull(page_id#{a}L)

(3) Exchange
Input [2]: [page_id#{a}L, title#{b}]
Arguments: hashpartitioning(page_id#{a}L, 8), ENSURE_REQUIREMENTS, [plan_id={p}]

(5) ShuffleQueryStage
Output [2]: [page_id#{x}L, title#{y}]
Arguments: {s}

(6) ReusedExchange [Reuses operator id: {r}]
Output [2]: [page_id#{x}L, title#{y}]

(7) ShuffledHashJoin [codegen id : {c2}]
Left keys [1]: [page_id#{a}L]
Right keys [1]: [page_id#{x}L]

*({c1}) Filter isnotnull(page_id#{a}L)
WholeStageCodegen ({c2})
"""


def _sample(**ids):
    return _PLAN.format(**ids)


def test_swapped_session_ids_mask_to_the_same_plan():
    one = _sample(a=12, b=13, x=40, y=41, p=55, r=3, c1=3, c2=4, s=5)
    two = _sample(a=40, b=41, x=12, y=13, p=71, r=5, c1=4, c2=3, s=6)
    assert one != two
    masked = capture_plans.mask_plan(one)
    assert masked == capture_plans.mask_plan(two)
    assert "#12" not in masked and "plan_id=55" not in masked
    assert "Reuses operator id: N" in masked
    assert "codegen id : N" in masked and "*(N) Filter" in masked
    assert "WholeStageCodegen (N)" in masked
    assert "ShuffleQueryStage\nOutput [2]: [page_id#NL, title#N]\n" \
        "Arguments: N\n" in masked


def test_mask_keeps_operator_numbers_and_shape():
    one = _sample(a=1, b=2, x=3, y=4, p=5, r=3, c1=1, c2=2, s=7)
    other = one.replace("BuildRight", "BuildLeft")
    masked = capture_plans.mask_plan(one)
    assert "(7)" in masked and "page_id#NL" in masked
    assert masked != capture_plans.mask_plan(other)
