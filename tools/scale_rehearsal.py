"""Scale rehearsal: run EVERY registered query at sf0.1 AND sf1
(tools/gen_scale.py corpus), Spark vs DuckDB on identical oracle SQL,
and print one JSON document per scale factor.

Purpose (round-5 directive #4, extended to the full registry by the
round-6 directive #1): a >2x ratio at sf0.1 attributed to Spark's fixed
multi-stage overhead at toy scale must SHRINK as data grows (overhead
amortizes — the claim holds) rather than GROW (a real plan problem);
running the whole registry leaves no unmeasured straggler. Results are
summarized in SCALE.md.

Usage: python tools/scale_rehearsal.py [out.json] [name_filter ...]
(name filters restrict the set — for quick re-measures of named
queries after a plan change)

--sf-dirs d1,d2,...  measure these corpus dirs instead of the default
                     sf0.1+sf1 pair (e.g. scale_data/sf10 for the
                     round-9 third decade).
--reuse-oracle f     copy DuckDB timings from a prior run's JSON
                     (rows are stamped duckdb_reused for provenance).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES
from trialstreamer_spark.session import get_spark

#: the full registry — every registered query is measured at both scales
SCALE_SET = tuple(sorted(QUERIES))

#: stop re-running an engine's query once a single run exceeds this
SLOW_CUTOFF_S = 90.0


def best_of(f, n: int = 3) -> float:
    best = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        f()
        dt = time.perf_counter() - t0
        best = min(best, dt)
        if dt > SLOW_CUTOFF_S:
            break
    return best


def rehearse(spark, sf_dir: str, names=None, oracle_reuse: dict | None = None,
             preps: set[str] | None = None, no_oracle: bool = False) -> dict:
    from trialstreamer_spark.sidecars import prepare_hooks

    t0 = time.perf_counter()
    for prep in prepare_hooks():
        # --preps restricts the offline builds (sf10: the dedup pair
        # featurizations are structurally quadratic on the synthetic
        # corpus's FIXED 30-word vocabulary — shingle df grows linearly
        # with corpus size, a generator artifact real corpora don't
        # have — and they filled this box's disk; skip them and measure
        # the linear-path queries).
        if preps is None or prep.__name__ in preps:
            prep(spark, sf_dir)
    prep_s = time.perf_counter() - t0

    con = duckdb.connect()
    # Bound DuckDB's out-of-core spill: at sf1 one oracle (greedy
    # dictionary NER) writes >80 GB of temp and fills the filesystem.
    # A capped spill turns that into a clean per-query failure we
    # RECORD (DuckDB cannot finish at this scale on this disk budget)
    # instead of a crash that kills the whole rehearsal.
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET max_temp_directory_size='40GB'")
    for path in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.splitext(os.path.basename(path))[0]
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    out: dict = {"sf_dir": sf_dir, "prepare_s": round(prep_s, 2), "queries": {}}
    for name in (names or SCALE_SET):
        row: dict = {}
        try:
            QUERIES[name](spark, sf_dir).count()  # warm (codegen/cache)
            row["spark_s"] = round(
                best_of(lambda: QUERIES[name](spark, sf_dir).count()), 3
            )
        except Exception as e:  # noqa: BLE001 — recorded, not fatal
            row["spark_error"] = repr(e)[:200]
        reused = (oracle_reuse or {}).get(name, {})
        if "duckdb_s" in reused or "duckdb_error" in reused:
            # --reuse-oracle: Spark-side plan changes don't move the
            # DuckDB timings (same SQL, same parquet), so a full
            # re-measure can skip the ~25 min / 40 GiB-spill oracle leg
            # and copy the prior run's numbers.
            for k in ("duckdb_s", "duckdb_error"):
                if k in reused:
                    row[k] = reused[k]
            # Provenance: a carried-over oracle timing must stay
            # distinguishable from a freshly measured one in the
            # committed artifact (ADVICE r8) — ratios built on reuse
            # are not one-session numbers.
            row["duckdb_reused"] = True
        elif no_oracle:
            # --no-oracle: Spark-side scaling decade only. Used where the
            # oracle is already RECORDED as unable to run the family at a
            # smaller scale (heaps_sf1: minhash_band_tuning spill-cap
            # FAIL, prefix pairs 404 s) — re-proving that at 10x costs
            # an hour per query and adds nothing.
            row["duckdb_skipped"] = True
        else:
            try:
                row["duckdb_s"] = round(
                    best_of(lambda: con.execute(ORACLES[name]).fetchall()), 3
                )
            except Exception as e:  # noqa: BLE001
                row["duckdb_error"] = repr(e)[:200]
        if "spark_s" in row and row.get("duckdb_s"):
            row["ratio"] = round(row["spark_s"] / row["duckdb_s"], 2)
        out["queries"][name] = row
        print(f"{os.path.basename(sf_dir):6s} {name:32s} "
              f"spark={row.get('spark_s', 'FAIL'):>7} "
              f"duckdb={row.get('duckdb_s', 'FAIL'):>7} "
              f"ratio={row.get('ratio', '-'):>6}",
              flush=True)
    return out


def main() -> None:
    argv = list(sys.argv[1:])
    reuse_path = None
    if "--reuse-oracle" in argv:
        i = argv.index("--reuse-oracle")
        reuse_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dirs = None
    if "--sf-dirs" in argv:
        i = argv.index("--sf-dirs")
        sf_dirs = [os.path.abspath(d) for d in argv[i + 1].split(",")]
        del argv[i : i + 2]
    no_oracle = "--no-oracle" in argv
    if no_oracle:
        argv.remove("--no-oracle")
    preps = None
    if "--preps" in argv:
        i = argv.index("--preps")
        preps = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    out_path = argv[0] if argv else "scale_rehearsal.json"
    unknown = [n for n in argv[1:] if n not in QUERIES]
    if unknown:
        # A typo must not silently fall back to rehearsing the FULL
        # registry at both scales (hours of work for a one-query re-run).
        sys.exit(f"unknown query name(s): {unknown}")
    names = argv[1:] or None
    reuse_by_dir: dict = {}
    if reuse_path:
        for run in json.load(open(reuse_path)):
            reuse_by_dir[os.path.basename(run["sf_dir"])] = run["queries"]
    spark = get_spark("scale-rehearsal")
    if sf_dirs is None:
        sf1_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scale_data", "sf1")
        sf_dirs = ["/root/testdata/sf0.1", sf1_dir]
    results = []
    for d in sf_dirs:
        results.append(
            rehearse(spark, d, names,
                     oracle_reuse=reuse_by_dir.get(os.path.basename(d)),
                     preps=preps, no_oracle=no_oracle)
        )
        # Release THIS corpus's pinned caches before the next dir: with
        # two corpora warmed simultaneously the 24g single-JVM heap
        # carries both cache sets plus execution memory, and the r10
        # weak-tail rehearsal measured late-session queries 2-4x their
        # clean-session wall (sole_late_supplier 2.9 s vs 1.1 s warm in
        # a fresh session) — GC/storage pressure, not plan cost. One
        # corpus resident at a time keeps every row one-session honest
        # AND representative.
        from trialstreamer_spark import util as _util
        _util.evict_caches(d)
        spark.catalog.clearCache()
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
