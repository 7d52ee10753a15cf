"""The plan budget (plan_budget.json, written by tools/plan_budget.py):
no registered query gains an exchange, scan, join, Python-UDF node or
Spark job unless the budget is rewritten on purpose."""

from __future__ import annotations

import json
import subprocess
import sys

from tests.conftest import ROOT
from tools.plan_budget import BUDGET, budget_diff, measure
from trialstreamer_spark.plans.all_queries import QUERIES


def test_budget_has_one_entry_per_registered_query():
    with open(BUDGET) as f:
        assert sorted(json.load(f)) == sorted(QUERIES)


def test_no_query_exceeds_its_plan_budget(tmp_path):
    """Recomputed in a fresh session, as the tool measures it, so no
    cache or setting left by an earlier test can change a count."""
    out = tmp_path / "plan_budget.json"
    subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; from tools.plan_budget import measure_budget, write_budget; "
            "write_budget(measure_budget(), sys.argv[1])",
            str(out),
        ],
        cwd=ROOT,
        check=True,
        timeout=1800,
    )
    with open(BUDGET) as f, open(out) as g:
        rises, falls = budget_diff(json.load(f), json.load(g))
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
