"""canopy_blocking component-size guard (VERDICT r4 #2).

The per-component greedy folds collect_list(struct(id, gram-array))
into ONE row per loose-graph component, so boundedness cannot rest on
the loose threshold alone: one stock-phrase-dominated component on a
skewed corpus would be a single-row OOM.  The guard drops components
larger than the cap — with drop accounting IN the summary row (never
silently), mirroring cap_hot_blocks — and the identical cut runs in
the DuckDB oracle.

"Adversarial giant component" here = any component over the cap: the
fixture's natural loose components (>= the 3 variant pages per entity,
proven connected by the recall≈1 replay test) already exceed a cap of
1, so max_component=1 makes EVERY candidate-producing component a
giant one and the guard must drop them all, visibly.
"""

import math

import pytest

from spellchecker_wasm_spark.queries import (
    _o_canopy_blocking_sql, _q_canopy_blocking, duckdb_session)

SF_DIR = "/root/testdata/sf0.001"
BITE_CAP = 1


def _oracle_row(sql):
    with duckdb_session(SF_DIR) as con:
        res = con.sql(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
    assert len(rows) == 1
    return dict(zip(cols, rows[0]))


@pytest.fixture(scope="module")
def rows(spark):
    base = _q_canopy_blocking(spark, SF_DIR).collect()[0].asDict()
    capped = (_q_canopy_blocking(spark, SF_DIR, max_component=BITE_CAP)
              .collect()[0].asDict())
    return base, capped


def test_cap_bites_and_drops_are_accounted(rows):
    base, capped = rows
    # baseline: default cap never bites on the fixture, and the row
    # says so explicitly (the "logged" half of the guard)
    assert base["n_dropped_components"] == 0
    assert base["n_dropped_pages"] == 0
    assert base["n_cand"] > 0
    # cap=1: every multi-page loose component is over the cap -> all
    # dropped, all accounted.  Candidates need a co-membership edge,
    # which needs a >= loose similarity, which needs a shared
    # component -- so the capped run can produce NO candidate pairs.
    assert capped["n_dropped_components"] > 0
    assert capped["n_dropped_pages"] > capped["n_dropped_components"]
    assert capped["n_cand"] == 0 and capped["n_tp"] == 0
    # recall impact is quantified, not hidden: same truth denominator,
    # recall collapses exactly as the drop accounting predicts
    assert capped["n_truth"] == base["n_truth"]
    assert capped["recall"] == 0.0 < base["recall"]


def test_capped_run_matches_oracle_bitwise(rows):
    _, capped = rows
    want = _oracle_row(_o_canopy_blocking_sql(BITE_CAP))
    assert set(capped) == set(want)
    for k, v in want.items():
        if isinstance(v, float):
            assert not math.isnan(capped[k]) and capped[k] == v, k
        else:
            assert capped[k] == v, k
