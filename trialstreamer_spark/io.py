"""Parquet table loaders for the test corpus (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under a scale-factor
directory. At cluster scale these would be partitioned/bucketed Delta or
Iceberg tables; the loader keeps the name→path mapping in one place so the
storage layer can be swapped without touching query plans.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialstreamer_spark import util

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Minimum rows per cached partition. The corpus parquet is written with
# ~1M-row row groups, which Spark cannot split: at sf0.1 EVERY table scans
# as ONE partition and at sf1 lineitem lands 6M rows in 6 of 28 splits
# (measured — the other 22 are empty). One round-robin shuffle at warm
# time turns every subsequent scan of the cached relation from a
# straggler into parallel work. The threshold is a measured trade: each
# extra partition costs ~5-10 ms of local task dispatch per downstream
# stage (a 600k-row agg: 0.13 s at 1 part, 0.36 s at 32), while an
# unsplit 1M-row partition serializes ~1 s of scan work — so narrow fact
# rows fan out at 64k rows/partition (≈9 parts at sf0.1, the full core
# count at sf1), keeping sub-second sf0.1 rollups off the task-dispatch
# tax while sf1 gets full width. On a real cluster this knob is the
# table layout's file/row-group sizing; the cache shuffle is the
# local-mode stand-in.
_WARM_ROWS_PER_PARTITION = 65536

# documents rows are ~KB of text each and the tokenize/regex family is
# CPU-bound per row (measured: sf1 fan-out cuts the text stragglers
# 2-6x), so they fan out at a much lower row count than the narrow
# numeric fact rows.
_WARM_ROWS_OVERRIDE = {"documents": 1024}

# Metadata projections cached SEPARATELY at the default (row-scaled)
# fan-out: the text-CPU override above is right for tokenize/regex
# consumers but taxes every metadata-only query with ~50 task
# dispatches per stage for kilobytes of columns (measured round 9:
# label_source_affinity's one-join-one-rollup plan dropped 0.46→0.19 s
# at sf1 on this alone). On a real cluster this is simply columnar
# projection — fewer bytes, fewer splits; the second cached relation is
# the local-mode stand-in. Keyed as ("table", sf_dir, "<table>__meta").
_META_COLS: dict[str, tuple[str, ...]] = {
    "documents": ("doc_id", "lang", "source", "n_chars"),
}


def warm_cache(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register every corpus table once for this session: persist in
    memory (deserialized columnar) and materialize. Subsequent load()
    calls reuse the cached plan — cutting the per-query footer-read +
    scan-build fixed cost that dominates a multi-query bench run — and
    re-spread giant unsplittable row groups across the cores (see
    _WARM_ROWS_PER_PARTITION).

    The repartition target comes from the parquet footers' row counts
    (footer_rows, read on the driver), so picking it starts no Spark
    job; the only jobs are the eager materialization of each cached
    relation.

    Each table is a util.cached_plan entry ("table", sf_dir, name),
    registered only here: load() of an unwarmed table stays uncached so
    unit tests see real parquet scans (PushedFilters / ReadSchema
    assertions in test_plan_hygiene.py). On a long-lived cluster this is
    the table-catalog / buffer-pool analog: re-reading footers +
    rebuilding scan plans per query is pure fixed cost."""
    par = spark.sparkContext.defaultParallelism
    skipped = []
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        # partial corpora (e.g. the documents-only heaps decade dirs
        # from tools/gen_scale.py only=...) warm what exists — but
        # loudly, so a typo'd sf_dir doesn't warm nothing in silence
        # (r10 ADVICE)
        if not os.path.exists(path):
            skipped.append(name)
            continue
        n = footer_rows(path)
        key = ("table", sf_dir, name)
        if util.peek(spark, key) is None:
            raw = load(spark, sf_dir, name)
            rpp = _WARM_ROWS_OVERRIDE.get(name, _WARM_ROWS_PER_PARTITION)
            target = max(1, min(par, n // rpp))
            if target > 1:
                raw = raw.repartition(target)
            util.cached_plan(spark, key, lambda: raw).count()
        if name in _META_COLS:
            mkey = ("table", sf_dir, f"{name}__meta")
            if util.peek(spark, mkey) is None:
                narrow = load(spark, sf_dir, name).select(*_META_COLS[name])
                target = max(1, min(par, n // _WARM_ROWS_PER_PARTITION))
                # Repartition even when target == 1: load() above serves
                # the just-cached FULL table, so without this the narrow
                # frame inherits its text-CPU fan-out (e.g. documents'
                # 1024-rows/partition override) — exactly the per-task
                # dispatch tax load_meta exists to avoid at small-corpus
                # sizes (r9 ADVICE).
                narrow = narrow.repartition(target)
                util.cached_plan(spark, mkey, lambda: narrow).count()
    if skipped:
        if len(skipped) == len(tables):
            raise FileNotFoundError(
                f"warm_cache: none of {tables} found under {sf_dir!r} — "
                "wrong sf_dir or unbuilt corpus"
            )
        warnings.warn(
            f"warm_cache: skipped missing tables {skipped} in {sf_dir!r} "
            "(partial corpus)",
            stacklevel=2,
        )


def footer_rows(path: str) -> int:
    """Row count of a parquet table — one file, or a directory of part
    files — summed from the footers' num_rows on the driver. The files
    Spark's reader skips (names starting with ``_`` or ``.``, e.g.
    ``_SUCCESS`` and ``.crc`` checksums) are skipped here too, so the
    sum equals ``spark.read.parquet(path).count()`` without its job."""
    import pyarrow.parquet as pq

    if os.path.isfile(path):
        return pq.read_metadata(path).num_rows
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for f in files
            if not f.startswith(("_", "."))
        )
    return n


def load_meta(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The narrow metadata projection of ``name`` (columns in
    _META_COLS), served from its own cached relation with the DEFAULT
    row-scaled partitioning — for consumers that never touch the
    text/payload column and must not inherit the text-CPU fan-out.
    Falls back to the projected full table when nothing is warmed (cold
    path: the projection still prunes at the parquet scan)."""
    cols = _META_COLS[name]
    cached = util.peek(spark, ("table", sf_dir, f"{name}__meta"))
    if cached is not None:
        return cached
    return load(spark, sf_dir, name).select(*cols)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. Column pruning + predicate pushdown reach the
    parquet scan because callers compose filters/projections lazily on the
    returned DataFrame (check with .explain: PushedFilters / ReadSchema).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. We read it as a long (nanosAsLong) and
    truncate to microseconds with integer division — the same truncation
    DuckDB applies when it coerces TIMESTAMP_NS → TIMESTAMP, so oracle
    comparisons stay exact. (A float division here would silently lose
    precision: 1.7e18 ns exceeds double's 53-bit mantissa.)
    """
    cached = util.peek(spark, ("table", sf_dir, name))
    if cached is not None:
        return cached
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Pin the session to UTC on every load: parquet timestamps here are
    # naive instants, and year()/date_trunc()/date_format() interpret
    # timestamps in the session zone. A driver-owned session in another
    # zone would silently shift years/windows (caught by oracle diff).
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _ltz(df)
    return _ltz(spark.read.parquet(path))


def _ltz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (LTZ). The testdata
    parquet stores naive timestamp[us] (isAdjustedToUTC=false), which a
    session with inferTimestampNTZ reads as TIMESTAMP_NTZ — a type
    unix_micros()/window() reject at analysis time. The session zone is
    pinned UTC just above, so the cast reinterprets the same wall-clock
    value as the same UTC instant: epoch micros and oracle hashes are
    unchanged. Applied here (not per-query) so a driver-owned session
    without our session.py configs still gets uniform LTZ columns."""
    from pyspark.sql import functions as F

    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# Bucketed fact-table layouts (co-located joins for the TPC-H-shaped plans)
# ---------------------------------------------------------------------------

#: variant → (source table, bucket key, projected columns). Narrow
#: projections bucketed on the join key — the lakehouse "materialized
#: clustering projection" (Iceberg sort-order / Delta liquid-clustering
#: analog): the exchange a fact-fact join would pay per query is prepaid
#: once at layout time. Projections carry only the columns their plans
#: read so the prepaid write (and every later scan) stays narrow.
BUCKET_SPECS: dict[str, tuple[str, str, tuple[str, ...]]] = {
    "lineitem_by_orderkey": (
        "lineitem",
        "l_orderkey",
        (
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
            "l_shipdate",
        ),
    ),
    "orders_by_orderkey": (
        "orders",
        "o_orderkey",
        ("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority", "o_totalprice"),
    ),
    "lineitem_by_partkey": (
        "lineitem",
        "l_partkey",
        ("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"),
    ),
    # customer-keyed order analytics (per-account aggregates + join-backs:
    # orders_above_customer_avg and the account-rollup family) — the
    # groupBy(o_custkey) and the self-join both ride this layout's
    # HashPartitioning with no Exchange
    # per-bucket sort carries o_orderdate BEHIND the key: merge
    # joins/groupBys on custkey read the same prefix ordering they
    # always did, and customer-cadence windows (partitionBy custkey,
    # orderBy orderdate) become sort-free on the scan (r11:
    # reorder_interval_percentiles' dominant cost was re-sorting every
    # bucket by date).
    "orders_by_custkey": (
        "orders",
        "o_custkey",
        ("o_custkey", "o_orderdate", "o_totalprice"),
        ("o_custkey", "o_orderdate"),
    ),
    # the matching customer side: at 100 TB customer is NOT broadcastable
    # (SF-scaled), so account-level joins ride this co-located layout —
    # and even at bench scale it saves the per-query broadcast build of
    # the full customer dim
    "customer_by_custkey": (
        "customer",
        "c_custkey",
        ("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"),
    ),
}

def _bucket_table_name(sf_dir: str, variant: str) -> str:
    import hashlib

    h = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"ts_bkt_{h}_{variant}"


def _bucket_layout(sf_dir: str, variant: str) -> tuple[str, str, tuple]:
    """(dir, source fingerprint, memo key) of a bucket layout. The key
    of its table handle names the warehouse dir (a layout built under
    another dir is another artifact) and the source fingerprint (a
    rewritten source is never served its old layout, even before
    evict_caches runs)."""
    from trialstreamer_spark.sidecars import corpus_fingerprint

    base = os.path.abspath(os.environ.get(
        "SPARK_GRAFT_BUCKET_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "spark-warehouse", "buckets"),
    ))
    fp = corpus_fingerprint(sf_dir, (BUCKET_SPECS[variant][0],))
    return (
        os.path.join(base, _bucket_table_name(sf_dir, variant)),
        fp,
        ("bucket", sf_dir, base, variant, fp),
    )


def prepare_buckets(
    spark: SparkSession, sf_dir: str, variants: tuple[str, ...] | None = None
) -> None:
    """Offline layout hook (bench/deploy): write the fact-table bucket
    projections for a corpus version. Each is repartitioned INTO its
    buckets before the write so every bucket is exactly one file —
    Spark's reader then exposes both the hash partitioning AND the
    per-bucket sort, letting later joins/groupBys on the key skip their
    Exchange (and their Sort). A layout is stamped with its source
    table's fingerprint (sidecars.write_stamp) and rebuilt when that
    fingerprint changes or the session catalog lacks the table.

    Every variant gets ``defaultParallelism`` buckets: one per task
    thread. Bucketed scans cannot split a bucket, so fewer buckets than
    threads leave cores idle for the whole fact-fact stage (sf10,
    local[32]: 16→32 buckets cut sole_late_supplier 6.5→4.3 s), while
    more buckets than threads only add tiny files and per-task dispatch
    to every scan (a 4-thread session writing 32 buckets paid 165 write
    tasks for five layouts, and 34 tasks per call of
    ship_latency_by_nation). At cluster scale the same rule holds:
    buckets ≈ target parallelism. All layouts of one session share the
    count, so bucket-to-bucket joins need no exchange; it also equals
    the ``spark.sql.shuffle.partitions`` that session.get_spark sets, so
    a shuffled side joins a layout at its bucket count. The count is
    part of the stamp: a session with another parallelism rewrites.

    A layout whose stamp is current is never rewritten. The session
    catalog lives in the JVM, so a new JVM (or a dropped table) finds
    the files without their table: they are registered in place, as an
    external table with the layout's columns, bucketing and sort
    (metadata only, no job). Spark reads such a table exactly like the
    one ``saveAsTable`` made, bucket-to-bucket joins included.

    Each projection's table handle is the session-scoped ``util.memo``
    entry that ``bucketed_table`` serves, evicted with its corpus, and
    is deliberately NOT persisted (see below)."""
    from trialstreamer_spark.sidecars import stamp_current, write_stamp

    n_buckets = spark.sparkContext.defaultParallelism
    for variant in variants or tuple(BUCKET_SPECS):
        spec = BUCKET_SPECS[variant]
        src, key, cols = spec[0], spec[1], spec[2]
        sort_cols = spec[3] if len(spec) > 3 else (key,)
        name = _bucket_table_name(sf_dir, variant)
        path, fp, mkey = _bucket_layout(sf_dir, variant)
        stamp = f"{fp}:{n_buckets}"
        layout = load(spark, sf_dir, src).select(*cols)
        if not stamp_current(path, stamp):
            (
                layout.repartition(n_buckets, F.col(key))
                .write.mode("overwrite")
                .bucketBy(n_buckets, key)
                .sortBy(*sort_cols)
                .option("path", path)
                .saveAsTable(name)
            )
            write_stamp(path, stamp)
        elif util.peek(spark, mkey) is None or not spark.catalog.tableExists(
            name
        ):
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in layout.schema
            )
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING parquet"
                f" CLUSTERED BY ({key}) SORTED BY ({', '.join(sort_cols)})"
                f" INTO {n_buckets} BUCKETS LOCATION '{path}'"
            )
        # NOT persisted (round-10 change, measured): InMemoryRelation
        # preserves the bucket HashPartitioning but DROPS the per-bucket
        # sort order, so every merge join over the cached copy re-sorted
        # both facts — strictly worse than the parquet bucket scan,
        # whose FileScan reports the sort (one file per bucket +
        # session's legacy.bucketedTableScan.outputOrdering). sf10:
        # nation_market_share 4.2→2.7 s from un-persisting alone; even
        # at sf0.1 the no-persist set measured faster (4.93→4.44 s over
        # the 12 TPC-H analogs) — the OS page cache covers the re-read.
        util.memo(mkey, lambda: spark.table(name), spark=spark)


def bucketed_table(
    spark: SparkSession, sf_dir: str, variant: str
) -> DataFrame | None:
    """The prepared bucket projection for this corpus version, or None
    when prepare_buckets has not laid it out for this session since the
    source last changed — callers fall back to the plain parquet scan
    (identical rows either way; the same stamp-driven path choice as
    api.engine.choose_search_path)."""
    return util.peek(spark, _bucket_layout(sf_dir, variant)[2])


def export_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV export sink (SURVEY S19 — the reference's ``COPY (...) TO
    STDOUT csv header``). Each partition writes its own file; coalesce
    upstream if a single file is required."""
    df.write.mode(mode).option("header", True).csv(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet write — the physical layout that
    makes partition PRUNING (not just row-group predicate pushdown) work
    at 100 TB: a filter on a partition column eliminates whole
    directories before any file is opened. Pair with
    ``spark.read.parquet(path)`` and assert pruning via ``inputFiles()``
    (tests/test_layout.py does)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table write (Spark's hash-bucketing): rows are
    hash-distributed into ``n_buckets`` files per partition ON the join/
    aggregation key at WRITE time, so every later equi-join or groupBy on
    that key between same-bucketed tables runs WITHOUT a shuffle — the
    exchange is prepaid once at ingest. This is the co-located-join
    strategy for fact tables repeatedly joined on the same key at 100 TB
    (bucket counts should match or divide each other)."""
    # one file per bucket (repartition INTO the buckets) so the scan can
    # report the per-bucket sort order — see prepare_buckets
    w = (
        df.repartition(n_buckets, F.col(bucket_col))
        .write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def zvalue_col(a, b, bits: int = 16):
    """Morton (Z-order) interleaving of the low ``bits`` bits of two
    non-negative integer columns — the multi-dimensional clustering key.
    Pure bitwise/shift column arithmetic (JVM codegen, no UDF)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        # disjoint bit positions, so integer + IS bitwise-or here
        z = (
            z
            + F.shiftleft(F.shiftright(a.cast("long"), i) % 2, 2 * i)
            + F.shiftleft(F.shiftright(b.cast("long"), i) % 2, 2 * i + 1)
        )
    return z


def write_clustered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write (Delta `OPTIMIZE ZORDER BY` /
    Iceberg sort-order analog): range-partition and sort rows by the
    Morton interleaving of two filter columns, so each output file holds
    a compact rectangle of (a, b) space and its parquet min/max
    statistics are TIGHT on BOTH columns simultaneously. A later filter
    on either column (or both) then skips most files/row-groups at the
    footer — single-column sorting buys that for one column only; at
    100 TB this is the difference between scanning a full fact table and
    touching a few percent of it. tests/test_layout.py measures the
    per-file range shrinkage against an unclustered write."""
    z = zvalue_col(F.col(col_a), F.col(col_b)).alias("__z")
    (
        df.select("*", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
