"""The sf0.001 oracle gate: every registered (query, oracle) pair must
match its DuckDB oracle, exact values with zero float tolerance, since
plans round their float outputs. The sf0.01 gate is the plan-budget
pass (``tools/plan_budget.measure``), reported per query by
test_sf01_sweep."""

from __future__ import annotations

import pytest

from tests.oracle_util import assert_registered_matches
from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, name):
    assert_registered_matches(spark, name, sf_dir)


def test_every_query_has_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name
