"""scripts/audit_plans: a row's node counts do not depend on what was
built before it (a materialized cache counts its final plan, an
unmaterialized one its initial plan, so without the per-row cache reset
a row read after an eager row had collected a frame it shares would
count that frame differently), and a persisted frame's build subtree
counts once per row, not once per read."""

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


def test_persisted_frame_counted_once_per_row(spark):
    """A frame that reads one persisted frame twice counts that frame's
    producer exchanges once, and each of its two reads as one scan."""
    from pyspark.sql import functions as F

    base = (spark.range(100).groupBy((F.col("id") % 7).alias("k"))
            .count().persist())
    try:
        once = audit_plans.node_counts(base.select("k"))
        twice = audit_plans.node_counts(base.union(base))
    finally:
        base.unpersist()
    assert once["shuffles"] == 1 and once["imts"] == 1, once
    assert twice["shuffles"] == 1 and twice["imts"] == 2, twice
