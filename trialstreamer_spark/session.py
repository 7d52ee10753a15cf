"""SparkSession factory.

Local test mode is ``local[$SPARK_GRAFT_CPUS]`` (single JVM), but every
config here is chosen to survive a multi-executor cluster at 100 TB:

- AQE on (runtime coalesce + skew-join splitting) so shuffle partition
  counts self-correct between sf0.001 and a 1000-executor run.
- shuffle partitions sized to cores locally; AQE coalesces down, and on a
  real cluster ``spark.sql.shuffle.partitions`` should be raised to
  ~2-3x total cores (AQE makes the exact number non-critical).
- Arrow on for every pandas-UDF boundary.
- UTC session timezone pinned so results are reproducible against
  SQL oracles (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """A quarter of physical memory, clamped to [1 GiB, 8 GiB]."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{max(1024, min(phys_mb // 4, 8192))}m"


def get_spark(app_name: str = "trialstreamer-spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(
            os.environ.get("SPARK_MASTER", f"local[{cpus}]")
        )
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at Spark's default
        # (true). false — the docs' large-cluster recommendation — was
        # tried in round 9 and measured as a TRADE, not a win: −30%
        # total on the 36-query weak set at sf0.1 (KB-sized shuffles
        # coalesce to one task) but +60% at sf1 (the 64 MB advisory
        # target serializes medium shuffles exactly where parallel CPU
        # pays: product_profit_by_nation 0.85→3.19 s, nation_market_
        # share 1.01→2.88 s). Growing with scale is the wrong direction;
        # on a real cluster the shuffles in question are GB-sized and
        # the two settings converge.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dims broadcast by SIZE, never by forced hint: SF-scaled dims
        # (customer/supplier/part) get a size-CONDITIONAL hint
        # (plans/relational._sf_dim compares the leg's leaf-scan bytes
        # to this threshold), so this is the single knob deciding
        # broadcast vs shuffle for them. Spark's default 10 MB is the
        # right separator: it clears every dim at rehearsal scales but
        # sits BELOW the fact projections (orders 25 MB, events 15 MB
        # at sf1) — a larger value was tried and measured 2-4x SLOWER
        # on the bucket-co-located TPC-H plans because the planner
        # started broadcasting whole fact projections, replacing
        # exchange-free bucket joins with multi-MB broadcast builds.
        .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet timestamps in the testdata are timestamp[us] with
        # isAdjustedToUTC=false; newer Spark reads those as TIMESTAMP_NTZ,
        # which unix_micros()/window() reject at analysis time. With the
        # session timezone pinned to UTC above, reading them as LTZ yields
        # byte-identical epoch values, so force the classic inference.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Per-JOB scheduler latency on this VM measured 50-90 ms (a
        # single-task count of 1000 ints!), and AQE turns every exchange
        # into a job — an N-exchange query floors at ~N×70 ms, which IS
        # the sub-second weak tail vs in-process DuckDB. Two stable,
        # deploy-safe cuts (measured ~2x together on the floor):
        # locality.wait=0 — no delay scheduling; local mode has one
        # locality domain, and at 100 TB against remote object storage
        # there are no locality preferences to wait for anyway;
        # heartbeat 60s — the 10s default's executor<->driver chatter
        # contends with the scheduler event loop in single-JVM mode
        # (network.timeout must stay above the heartbeat interval).
        # Report the per-bucket sort order of bucketed tables written
        # with exactly one file per bucket (io.prepare_buckets
        # repartitions INTO the buckets, guaranteeing it). Spark 3.0
        # turned this off by default (SPARK-28595) because multi-file
        # buckets can't prove sortedness — with the flag on, Spark
        # still inserts the Sort for any multi-file bucket, so this is
        # safe globally. Without it every fact-fact merge join re-sorts
        # BOTH facts (sf10 measured: sole_late_supplier 11.6→6.5 s,
        # nation_market_share 4.2→1.7 s — SCALE.md round 10).
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.locality.wait", "0")
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "600s")
        # UI off by default (its listener costs show up in sub-second
        # benches); SPARK_GRAFT_UI=true flips it on for stage-level
        # profiling runs (tools/job_count.py style REST pulls)
        .config(
            "spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false")
        )
        # single-JVM local mode: the driver heap IS the executor heap for
        # all $SPARK_GRAFT_CPUS task threads — size it to the machine,
        # not to a driver-only footprint (GC pressure on a small heap
        # showed up as 2x run-to-run variance in bench hot queries), and
        # never past it: SPARK_DRIVER_MEM is the one override
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
