"""Per-query Spark JOB count + wall time — the r9 verdict's requested
diagnostic (Next round #1): on this VM each job costs a ~70-85 ms
scheduler round-trip (measured by the since-deleted tools/bench_floor.py),
so under AQE — which
materializes every exchange as its own job — job count × floor is the
lower bound a sub-second query can ever reach. A query can only get
faster than that by REMOVING exchanges, not by tuning them.

Runs each named query with the standard offline preps applied (same
contract as bench.py), twice warm, then reports the SECOND run's job
count and best-of-2 wall time. Jobs are counted by
tests/conftest.jobs_during, the counter tools/plan_budget.py uses.

Usage: python tools/job_count.py <sf_dir> <query> [query ...]
       python tools/job_count.py /root/testdata/sf0.1 nation_market_share
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import jobs_during  # noqa: E402
from trialstreamer_spark.plans.all_queries import QUERIES  # noqa: E402
from trialstreamer_spark.session import get_spark  # noqa: E402


def run_preps(spark, sf_dir: str) -> None:
    from trialstreamer_spark.sidecars import prepare_hooks

    for prep in prepare_hooks():
        prep(spark, sf_dir)


def probe(spark, name: str, sf_dir: str) -> dict:
    QUERIES[name](spark, sf_dir).count()  # warm (codegen + caches)
    times = []
    n_jobs = 0
    for _ in range(2):
        t0 = time.perf_counter()
        n_jobs = jobs_during(spark, lambda: QUERIES[name](spark, sf_dir).count())
        times.append(time.perf_counter() - t0)
    return {
        "query": name,
        "n_jobs": n_jobs,
        "best_s": round(min(times), 4),
        "floor_bound_s": round(n_jobs * 0.075, 3),
    }


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("job-count")
    spark.sparkContext.setLogLevel("ERROR")
    run_preps(spark, sf_dir)
    for name in names:
        print(json.dumps(probe(spark, name, sf_dir)))


if __name__ == "__main__":
    main()
