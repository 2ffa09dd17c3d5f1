"""Driver-contract smoke tests: every query runs at sf0.001, its plan is
free of the banned shapes (tests/test_plan_audit.py), and the oracle
dict stays consistent with the query registry.

(The full value-level comparison vs DuckDB runs in
tools/check_correctness.py at sf0.01 — too slow for the unit suite.)"""

from __future__ import annotations

import pytest

import __spark_entry__ as contract
from tests.conftest import SF_SMOKE
from tests.test_plan_audit import FORBIDDEN, single_task_window_violations


def test_entry_smoke(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) == 10


def test_every_oracle_has_a_query():
    qs, os_ = contract.queries(), contract.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30


@pytest.mark.parametrize("name", sorted(contract.queries()))
def test_query_runs_at_smoke_sf(spark, name):
    """One build per query: audit its executed plan, then count its rows."""
    df = contract.queries()[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not [bad for bad in FORBIDDEN if bad in plan], plan
    viols = single_task_window_violations(plan)
    assert not viols, (
        "single-task window over unaggregated input:\n" + viols[0]
    )
    assert df.count() >= 0
    assert len(df.columns) > 0
