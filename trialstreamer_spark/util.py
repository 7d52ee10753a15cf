"""Small plan helpers and the one in-memory cache.

- ``inline_rows``: a literal dimension as a pure JVM plan;
- ``ordered_small``: total order for a dimension-sized frame without a
  range exchange;
- ``memo`` / ``cached_plan`` / ``materialize_plan``: the only in-memory
  cache. ``memo`` stores any per-corpus value (in-process statistics,
  table handles); ``cached_plan`` is ``memo`` with a session-scoped key
  and a lazily persisted DataFrame. One store, one key shape
  (``_plan_key``), one eviction rule: ``evict_caches(path)``, which
  every ParquetTable version bump calls, drops every entry whose key
  names that path and unpersists the ones that are persisted. No entry
  owns files or views: artifacts with an on-disk life (sidecars, stream
  replays, postings, bucket layouts) follow the ``sidecars`` lifecycle,
  and disk-backed sidecars front this cache through
  ``sidecars.disk_cached_plan``.

Shipping the package to Python workers is ``dist.ship_package``.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession


def inline_rows(
    spark: SparkSession, rows: list[tuple], schema: list[tuple[str, str]]
):
    """Tiny literal dimension as a pure JVM plan: explode an array of
    literal structs over range(1).

    ``spark.createDataFrame`` on a handful of rows costs ~0.6 s per call
    (Python→JVM conversion + a LocalTableScan parallelized into
    defaultParallelism tasks); this constant-folds to a 1-partition
    local relation with zero Python transfer. Use for broadcast dims
    (band tables, rate tables) declared inline in a query.
    """
    from pyspark.sql import functions as F

    structs = [
        F.struct(
            *[
                F.lit(v).cast(dtype).alias(name)
                for v, (name, dtype) in zip(row, schema)
            ]
        )
        for row in rows
    ]
    return (
        # numPartitions=1: spark.range(1) otherwise parallelizes ONE row
        # into defaultParallelism empty-mostly partitions — every
        # consumer then schedules 32 tasks per reference, and windows
        # over the dim need a hash exchange. A true SinglePartition
        # satisfies any clustering requirement, so dim-local
        # windows/aggregates become exchange-free (r11).
        spark.range(0, 1, 1, 1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
    )


def ordered_small(df, *cols):
    """Deterministic total order for a DIMENSION-SIZED final frame
    without a range exchange: coalesce to one partition (narrow — no
    shuffle; with AQE the upstream rollup has usually already coalesced
    its post-shuffle side to one partition anyway) and sort inside it.

    A final ``orderBy`` costs a RangePartitioning exchange PLUS a
    separate skew-sampling job — two scheduler round-trips (~70-85 ms
    each on this VM, SCALE.md floor stamps) that dominate sub-second
    queries and buy nothing when the output is at most a few thousand
    rows (r9 VERDICT ask #5a). Output is a single fully-sorted
    partition, so the user-visible contract (total order) is unchanged.

    Use ONLY for dimension-bounded outputs: coalesce(1) collapses the
    final stage (everything above the last shuffle boundary) into one
    task, which is free for a ≤10^4-row rollup tail and catastrophic
    for a corpus-sized sort — those keep orderBy, whose range exchange
    is exactly what makes a big sort parallel."""
    return df.coalesce(1).sortWithinPartitions(*cols)


# key → value: THE in-memory cache. Persisted plan subtrees and
# in-process corpus statistics are all entries here, so evict_caches is
# the one invalidation path.
_PLAN_CACHE: dict[tuple, object] = {}


def memo(key: tuple, build, *, spark: SparkSession | None = None):
    """The value cached under ``key``; on a miss, ``build()`` runs once
    and its result is stored as is.

    With ``spark`` the entry is session-scoped (see _plan_key); without
    it, it is shared by every session. Any string element of the key
    that names a path ties the entry to that path's lifecycle
    (evict_caches), which calls ``value.unpersist()`` when the value has
    one."""
    if spark is not None:
        key = _plan_key(spark, key)
    if key not in _PLAN_CACHE:
        _PLAN_CACHE[key] = build()
    return _PLAN_CACHE[key]


def peek(spark: SparkSession, key: tuple):
    """The session-scoped value cached under ``key`` (as cached_plan
    registers it), or None on a miss; nothing is built."""
    return _PLAN_CACHE.get(_plan_key(spark, key))


def cached_plan(spark: SparkSession, key: tuple, builder):
    """Session-scoped persisted sidecar for a plan subtree referenced by
    multiple downstream branches (self-joins, census-join-back rollups).

    Spark recomputes a shared subtree once PER REFERENCE unless it is
    persisted — a self-join over an expensive featurization (regex
    explode, window-min, Arrow assignment) silently multiplies its cost
    by the fan-out. This registers the subtree once per (session, key)
    and persists LAZILY: the first action materializes it, every later
    reference — in the same query or a later one — reads the cache. The
    same once-per-corpus-version pattern as dedup's shingle postings and
    the IVF centroid sidecar; on a cluster these would be materialized
    tables/Delta sidecars instead of StorageLevel caches."""
    return memo(key, lambda: builder().persist(), spark=spark)


def _plan_key(spark: SparkSession, key: tuple) -> tuple:
    # The sidecar catalog root participates in every session key: some
    # cached plans front disk sidecars (sidecars.disk_sidecar), and a
    # memory hit built while SPARK_GRAFT_SIDECAR_DIR pointed elsewhere
    # must not mask the current catalog's build/read path. Nested in a
    # tuple so _key_references' path matcher ignores it — a sidecar
    # table commit under the catalog root must not evict every plan.
    from trialstreamer_spark.sidecars import catalog_base

    return (id(spark._jsparkSession), ("catalog", catalog_base()), *key)


def _path_related(a: str, b: str) -> bool:
    a, b = a.rstrip("/"), b.rstrip("/")
    return a == b or a.startswith(b + "/") or b.startswith(a + "/")


def _key_references(key: tuple, token: str) -> bool:
    """True when a top-level string element of ``key`` is path-related
    to ``token`` (equal, or one under the other at a path boundary) — a
    table under a corpus dir invalidates caches keyed by that dir, and
    vice versa — or names ``token`` inside it at path boundaries (a plan
    string whose scans read that path). Nested tuples never match."""
    inside = re.compile(
        r"(?<![\w.-])" + re.escape(token.rstrip("/")) + r"(?![\w.-])"
    )
    return any(
        isinstance(el, str) and (_path_related(el, token) or inside.search(el))
        for el in key
    )


def evict_caches(token: str) -> None:
    """Cache lifecycle hook: drop every cache entry whose key references
    ``token`` (a ParquetTable path or corpus dir), unpersisting its
    value. Called on every ParquetTable version bump so a long-lived engine
    crossing corpus versions doesn't accumulate pinned DataFrames —
    stale persisted plans are unpersisted (storage memory released) and
    the next query rebuilds from the new version."""
    for k in [k for k in _PLAN_CACHE if _key_references(k, token)]:
        value = _PLAN_CACHE.pop(k)
        try:
            if callable(getattr(value, "unpersist", None)):
                value.unpersist()
        except Exception:
            pass


def materialize_plan(spark: SparkSession, key: tuple) -> None:
    """Force a cached_plan entry to materialize now (offline-prep hook);
    no-op if the plan was never registered."""
    df = peek(spark, key)
    if df is not None:
        df.count()
