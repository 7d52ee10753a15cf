"""The plan budget (plan_budget.json, written by tools/plan_budget.py):
no registered query gains an exchange, scan, join, Python-UDF node or
Spark job unless the budget is rewritten on purpose. The same pass
(``sf01_pass``) is the sf0.01 oracle gate: every query with an oracle
is compared with it on the pass's warm-up run, and test_sf01_sweep
reports each query's outcome."""

from __future__ import annotations

import json

import pytest

from tools.plan_budget import BUDGET, budget_diff, measure
from trialstreamer_spark.plans.all_queries import QUERIES


def test_budget_has_one_entry_per_registered_query():
    with open(BUDGET) as f:
        assert sorted(json.load(f)) == sorted(QUERIES)


def test_no_query_exceeds_its_plan_budget(sf01_pass):
    """Recomputed in a fresh session, as the tool measures it, so no
    cache or setting left by an earlier test can change a count. The
    same pass is the sf0.01 oracle gate (test_sf01_sweep); a query that
    differs from its oracle there is not counted, so it fails by name
    here too."""
    measured, wrong = sf01_pass["budget"], sf01_pass["wrong"]
    assert sorted(measured) == sorted(set(QUERIES) - set(wrong))
    with open(BUDGET) as f:
        rises, falls = budget_diff(json.load(f), measured)
    print("\n".join(["plan budget changes:", *rises, *falls]))
    assert not rises, (
        "counts above plan_budget.json (rerun tools/plan_budget.py if "
        "intended):\n" + "\n".join(rises)
    )


def test_budget_check_names_an_injected_exchange(spark, sf_dir, monkeypatch):
    name = "core_join_topk"
    before = measure(spark, sf_dir, [name])
    query = QUERIES[name]
    monkeypatch.setitem(QUERIES, name, lambda s, d: query(s, d).repartition(7))
    rises, _ = budget_diff(before, measure(spark, sf_dir, [name]))
    n = before[name]["exchanges"]
    assert f"{name}: exchanges {n} -> {n + 1}" in rises


@pytest.mark.parametrize("fault", ["drop_row", "alter_value"])
def test_oracle_gate_names_an_injected_wrong_result(
    spark, sf_dir, monkeypatch, fault
):
    """The measurement refuses a query whose rows differ from its oracle,
    and names it: one row dropped, or one value changed."""
    from pyspark.sql import functions as F

    name = "core_join_topk"
    query = QUERIES[name]

    def wrong(s, d):
        df = query(s, d)
        if fault == "drop_row":
            return df.exceptAll(df.limit(1))
        return df.withColumn("o_orderkey", F.col("o_orderkey") + 1)

    monkeypatch.setitem(QUERIES, name, wrong)
    with pytest.raises(AssertionError, match=f"^{name} differs from its oracle"):
        measure(spark, sf_dir, [name])
