"""scripts/audit_plans.plan_counts: a row's node counts do not depend on
what was built before it.  A materialized cache prints its AQE final and
initial plans both, so without the per-row cache reset a row read after
an eager row had collected a frame it shares would count that frame's
nodes twice."""

import importlib.util
from pathlib import Path

_SPEC = importlib.util.spec_from_file_location(
    "audit_plans",
    Path(__file__).resolve().parent.parent / "scripts" / "audit_plans.py")
audit_plans = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(audit_plans)

SF_DIR = audit_plans.SF_DIR


def test_counts_independent_of_build_order(spark):
    from spellchecker_wasm_spark.queries import CATALOG

    alone = audit_plans.plan_counts(spark, "word_counts", SF_DIR)
    assert alone["imts"] > 0, alone  # reads the shared dictionary
    # compound_known collects that dictionary while it is built
    CATALOG["compound_known"][0](spark, SF_DIR)
    after = audit_plans.plan_counts(spark, "word_counts", SF_DIR)
    assert after == alone
