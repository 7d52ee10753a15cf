"""Registry of (Spark query, DuckDB oracle SQL) pairs.

Every operator from SURVEY.md §2 that is SQL-expressible registers here with
both a DataFrame-plan callable ``(spark, sf_dir) -> DataFrame`` and the
ANSI-SQL string a DuckDB oracle runs on the same parquet tables. The tests
compare the two for every pair once per scale factor: at sf0.001
(tests/test_relational_oracle.py) and at sf0.01 (the plan-budget pass,
tools/plan_budget.py).

Conventions that make the hash comparison robust (SURVEY.md §7 hard parts
4-5):

- every computed column is aliased identically on both sides;
- floating aggregates are rounded (sums→2dp, ratios→4dp) so accumulation
  order between engines cannot flip the hash;
- top-k queries carry an explicit unique tiebreaker key so the selected
  row *set* is deterministic;
- no raw timestamps in outputs — epoch micros or formatted strings;
- DuckDB sums over integers are CAST to BIGINT (DuckDB widens to HUGEINT,
  Spark stays at long).
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from trialstreamer_spark.dist import ship_package

QUERIES: dict[str, Callable] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query plan and (optionally) its DuckDB oracle SQL. The
    registered callable first ships the package to the session's Python
    workers (``dist.ship_package``)."""

    def deco(fn: Callable) -> Callable:
        @functools.wraps(fn)
        def shipped(spark, sf_dir):
            ship_package(spark)
            return fn(spark, sf_dir)

        QUERIES[name] = shipped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
