"""The sf0.01 oracle gate, reported one test per registered query.

The compares run once, inside the plan-budget pass: ``sf01_pass`` runs
``tools/plan_budget.measure_budget`` in a fresh session, which checks
the rows of each query's warm-up run at sf0.01 against its DuckDB
oracle before it counts the plan. Each test here reads its query's
outcome from that pass; test_plan_budget checks the same pass's plan
counts. (The test name dates from when the sweep covered only queries
an external harness had never sampled; it now covers the registry.)"""

from __future__ import annotations

import pytest

from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_sf01_never_sampled_sweep(sf01_pass, name):
    wrong = sf01_pass["wrong"]
    assert name not in wrong, wrong.get(name)
    assert name in sf01_pass["budget"], f"{name} was not measured"


# Registered queries allowed to have no DuckDB oracle, each with its
# reason. Empty: every current query ships an oracle. A query that SQL
# cannot express must be listed here to pass the ratchet below, so
# oracle coverage can only shrink loudly.
ORACLE_EXEMPT: dict[str, str] = {}


def test_driver_coverage_union_is_total():
    """Both oracle gates take their query list from the registry, so a
    query escapes them only by having no oracle: that needs an
    ORACLE_EXEMPT reason, and every exemption must name a registered
    query."""
    uncovered = sorted(
        n for n in QUERIES if n not in ORACLES and n not in ORACLE_EXEMPT
    )
    assert not uncovered, f"queries with no oracle and no exemption: {uncovered}"
    stale = sorted(n for n in ORACLE_EXEMPT if n not in QUERIES)
    assert not stale, f"ORACLE_EXEMPT entries no longer registered: {stale}"
