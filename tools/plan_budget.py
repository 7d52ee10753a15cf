"""Rewrite plan_budget.json, the checked record of every registered
query's physical plan, and the registry counts that README.md and
PARITY.md state.

Each query's entry is measured at sf0.01 in a fresh session after every
prepare hook (``sidecars.prepare_hooks``) has run:

- node counts of AQE's initial physical plan, walked node by node and
  classified by JVM class (subquery plans included; the build plans
  inside cached relations are not): ``exchanges`` (shuffle and
  broadcast), ``scans`` (leaf nodes: file, cache, local and range
  scans), joins by strategy, and ``python_udfs`` (nodes of Spark's
  Python execution package);
- ``jobs``: the Spark jobs of a warm ``QUERIES[name](spark, sf).count()``
  with the DataFrame's construction inside the measured call, because
  some queries run jobs while they build. The second of two calls.

The first of those two calls is the sf0.01 oracle gate: its rows are
compared with the query's DuckDB oracle (``tests/oracle_util``), and a
mismatch fails the measurement with the query's name, so no budget is
written from wrong results.

tests/test_plan_budget.py recomputes the budget and fails when any count
rises. After an intended plan change, rewrite it:

    python tools/plan_budget.py
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.conftest import SF_DIR_MED, jobs_during  # noqa: E402
from tests.oracle_util import assert_matches  # noqa: E402
from tools.job_count import run_preps  # noqa: E402
from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES  # noqa: E402
from trialstreamer_spark.session import get_spark  # noqa: E402

BUDGET = os.path.join(ROOT, "plan_budget.json")
EXCHANGES = {"ShuffleExchangeExec", "BroadcastExchangeExec"}
JOINS = {
    "BroadcastHashJoinExec": "broadcast_hash_joins",
    "SortMergeJoinExec": "sort_merge_joins",
    "ShuffledHashJoinExec": "shuffled_hash_joins",
    "BroadcastNestedLoopJoinExec": "broadcast_nested_loop_joins",
    "CartesianProductExec": "cartesian_joins",
}
PYTHON_EXEC_PACKAGE = "org.apache.spark.sql.execution.python."


def plan_counts(plan) -> dict[str, int]:
    """Node counts of a (JVM) physical plan; an adaptive plan is read
    through its initial, pre-execution plan."""
    counts = dict.fromkeys(["exchanges", "scans", *JOINS.values(), "python_udfs"], 0)
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass()
        name = cls.getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        children, subqueries = node.children(), node.subqueries()
        if name in EXCHANGES:
            counts["exchanges"] += 1
        elif name in JOINS:
            counts[JOINS[name]] += 1
        elif cls.getName().startswith(PYTHON_EXEC_PACKAGE):
            counts["python_udfs"] += 1
        elif children.isEmpty():
            counts["scans"] += 1
        for seq in (children, subqueries):
            stack += [seq.apply(i) for i in range(seq.size())]
    return counts


def measure(spark, sf_dir: str, names) -> dict[str, dict[str, int]]:
    """The budget entry of each named query, on the session as it is.
    The warm-up run of each query with an oracle is its oracle check;
    any query that differs fails the call, by name."""
    budget, wrong = measure_each(spark, sf_dir, names)
    if wrong:
        raise AssertionError("\n".join(wrong[n] for n in sorted(wrong)))
    return budget


def measure_each(
    spark, sf_dir: str, names
) -> tuple[dict[str, dict[str, int]], dict[str, str]]:
    """(budget entries, mismatches): as ``measure``, but a query whose
    warm-up rows differ from its oracle is reported in ``mismatches``
    (name -> message) instead of measured, and the rest go on."""
    budget, wrong = {}, {}
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        if name in ORACLES:
            try:
                assert_matches(df, ORACLES[name], sf_dir)
            except AssertionError as exc:
                wrong[name] = f"{name} differs from its oracle at {sf_dir}: {exc}"
                continue
        else:
            df.count()
        built = []

        def build_and_count():
            built.append(QUERIES[name](spark, sf_dir))
            built[0].count()

        jobs = jobs_during(spark, build_and_count)
        plan = built[0]._jdf.queryExecution().executedPlan()
        budget[name] = {**plan_counts(plan), "jobs": jobs}
    return budget, wrong


def measure_budget() -> tuple[dict[str, dict[str, int]], dict[str, str]]:
    """Every registered query's entry, and its mismatches, from a fresh
    session at sf0.01 (``measure_each``)."""
    spark = get_spark("plan-budget")
    spark.sparkContext.setLogLevel("ERROR")
    run_preps(spark, SF_DIR_MED)
    return measure_each(spark, SF_DIR_MED, sorted(QUERIES))


def write_budget(budget: dict, path: str) -> None:
    rows = [f"  {json.dumps(n)}: {json.dumps(budget[n])}" for n in sorted(budget)]
    with open(path, "w") as f:
        f.write("{\n" + ",\n".join(rows) + "\n}\n")


def budget_diff(budget: dict, measured: dict) -> tuple[list[str], list[str]]:
    """(rises, falls) of every count measured, one ``query: count old ->
    new`` line each; a query missing from the budget rises from nothing."""
    rises, falls = [], []
    for name in sorted(measured):
        for key, new in measured[name].items():
            old = budget.get(name, {}).get(key)
            if old is None or new > old:
                rises.append(f"{name}: {key} {old} -> {new}")
            elif new < old:
                falls.append(f"{name}: {key} {old} -> {new}")
    return rises, falls


def _rewrite(doc: str, patch) -> None:
    path = os.path.join(ROOT, doc)
    with open(path) as f:
        text = f.read()
    patched = patch(text)
    if patched != text:
        with open(path, "w") as f:
            f.write(patched)
        print(f"{doc} updated")


def registry_roll_call() -> str:
    """PARITY.md's generated block: every registered query name, grouped
    by defining module, so the doc is complete by construction."""
    by_mod: dict[str, list[str]] = defaultdict(list)
    for name, fn in QUERIES.items():
        by_mod[fn.__module__.replace("trialstreamer_spark.", "")].append(name)
    lines = [
        f"{len(QUERIES)} registered queries, {len(ORACLES)} with DuckDB "
        "oracles (the rest are rows-only checked by the driver).",
        "",
    ]
    for mod in sorted(by_mod):
        names = ", ".join(f"`{n}`" for n in sorted(by_mod[mod]))
        lines.append(f"- **{mod}** ({len(by_mod[mod])}): {names}")
    return "\n".join(lines)


def main() -> None:
    budget, wrong = measure_budget()
    if wrong:
        raise SystemExit(
            "no budget written; these queries differ from their oracles:\n"
            + "\n".join(wrong[n] for n in sorted(wrong))
        )
    write_budget(budget, BUDGET)
    print(f"{BUDGET} written")
    n = len(QUERIES)
    _rewrite("README.md", lambda t: re.sub(r"\(\d+ queries", f"({n} queries", t))
    begin, end = "<!-- BEGIN GENERATED REGISTRY -->", "<!-- END GENERATED REGISTRY -->"
    _rewrite(
        "PARITY.md",
        lambda t: re.sub(
            f"{begin}.*?{end}",
            lambda _: f"{begin}\n{registry_roll_call()}\n{end}",
            t,
            flags=re.S,
        ),
    )


if __name__ == "__main__":
    main()
