"""Batch-equivalence parity queries for the stateful streaming operators
(SURVEY §2.9): run the REAL streaming operators — file source →
``applyInPandasWithState`` → memory sink — to completion with
``Trigger.AvailableNow``, and return the sink contents as a batch
DataFrame the driver can hash-compare against a DuckDB oracle.

Every replay calls the operator production runs (``streaming.stateful``
and ``streaming.pipeline``'s rollups), never a private copy of it:
columns a query does not compare (a float sum, the unprojected event
fields) are dropped by the query's final ``select``, not by a
replay-only variant of the operator.

Determinism contract (what makes a streaming run oracle-checkable):

- the events table is ONE parquet file, and the file streaming source
  batches by file, so the whole input arrives in a single micro-batch;
- ``noDataMicroBatches`` is disabled, so no trailing empty batch fires
  event-time timeouts non-deterministically after the data batch; the
  emitted rows are exactly the in-batch results;
- for sessionize that means: every session CLOSED BY A GAP inside the
  batch is emitted, and each user's final (still-open) session stays in
  state — so the oracle is the batch sessionization minus each user's
  last session. The timeout/watermark flush path is covered separately
  by tests/test_streaming_ops.py, where arrival order is controlled.

Serving: each replay's result is a sidecar (``sidecars.disk_cached_plan``
entry ``replay_<tag>``) stamped with the fingerprint of the corpus
tables it reads, so one replay per (operator, corpus version) serves
every later call and every later session; a corpus change rebuilds it.
The memory sink is only a build-time device: the build detaches the
sink's rows and removes its view, checkpoint and any staged input or
sink table before it returns, so nothing outlives a build.

Scale shape: state is one tuple per active user key riding the groupBy
shuffle's hash partitioning (no extra exchange); a production run
writes to a keyed upsert sink (operators/upsert.py) instead.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from trialstreamer_spark.plans.registry import query
from trialstreamer_spark.sidecars import disk_cached_plan
from trialstreamer_spark.streaming.pipeline import (
    hopping_event_rollup,
    hourly_event_rollup,
)
from trialstreamer_spark.streaming.stateful import (
    TOPK_K,
    dedup_stream,
    running_totals_stream,
    sessionize_stream,
    topk_stream,
)

# File streaming sources require an explicit schema (no inference on a
# stream). Declaring ts as TIMESTAMP (LTZ) also normalizes the naive
# parquet micros regardless of the session's inferTimestampNTZ setting.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_RUN_IDS = itertools.count()


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# State-store partition count for the parity replays. A streaming query
# pins its state partitioning at FIRST start from spark.sql.shuffle
# .partitions; the session default (32) is sized for batch shuffles, but
# here state cardinality is one entry per user/window key (hundreds), so
# 32 state stores are pure per-partition commit overhead. Each parity run
# uses a fresh checkpoint, so the pin is safe to vary; a production
# deployment sizes this to its real key cardinality instead.
_STATE_PARTITIONS = "8"

#: The corpus tables the replays read (stream_static_join_parity joins
#: customer and nation; the rest read events): every replay sidecar is
#: stamped with their fingerprint.
_SOURCES = ("events", "customer", "nation")

# Offset/commit logs are many tiny fsync'd files; for a throwaway
# replay a tmpfs checkpoint skips the disk round-trips. A production
# stream checkpoints to durable storage — recovery semantics matter
# there, not here.
_TMPFS = "/dev/shm" if os.path.isdir("/dev/shm") else None


@contextlib.contextmanager
def _scratch_dir(prefix: str, tmpfs: bool = False):
    """A throwaway dir for one replay build (checkpoint, staged input,
    sink table), removed when the build ends, failed or not."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_TMPFS if tmpfs else None)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _replay(
    spark: SparkSession, sf_dir: str, tag: str, run, post=None
) -> DataFrame:
    """The result of stream replay ``tag`` over this corpus version, as
    a sidecar: ``run()`` runs the replay on a miss and returns its rows
    detached from everything the build made (a local checkpoint), and
    ``post`` re-applies what a parquet roundtrip drops (an order)."""
    return disk_cached_plan(
        spark, sf_dir, f"replay_{tag}", run, source_tables=_SOURCES, post=post
    )


def _run_stream_to_table(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    build,
    output_mode: str = "append",
) -> DataFrame:
    """The single-batch replay of the events stream through
    ``build(stream)`` (run only on a miss) to a memory sink. The replay
    of an immutable corpus version is deterministic, so the sink's rows
    ARE the result for every later call."""
    return _replay(
        spark,
        sf_dir,
        tag,
        lambda: _run_to_memory_sink(
            spark, build(_stream_events(spark, sf_dir)), tag, output_mode
        ),
    )


def _run_to_memory_sink(
    spark: SparkSession, out: DataFrame, tag: str, output_mode: str
) -> DataFrame:
    """Start ``out`` into a uniquely-named memory sink with AvailableNow,
    wait for completion, and return the sink's rows as a local
    checkpoint; the sink view and the checkpoint dir are gone when this
    returns.

    no-data micro-batches are disabled only for the DURATION of this run
    (see module docstring: the trailing empty batch would fire event-time
    timeouts non-deterministically) and restored afterwards — other
    streaming consumers on the same session may rely on them to advance
    the watermark."""
    name = f"parity_{tag}_{os.getpid()}_{next(_RUN_IDS)}"
    prev = spark.conf.get(_NO_DATA_BATCHES)
    prev_parts = spark.conf.get(_SHUFFLE_PARTITIONS)
    spark.conf.set(_NO_DATA_BATCHES, "false")
    spark.conf.set(_SHUFFLE_PARTITIONS, _STATE_PARTITIONS)
    try:
        with _scratch_dir(f"ckpt_{name}_", tmpfs=True) as ckpt:
            (
                out.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        return spark.table(name).localCheckpoint()
    finally:
        spark.conf.set(_NO_DATA_BATCHES, prev)
        spark.conf.set(_SHUFFLE_PARTITIONS, prev_parts)
        spark.catalog.dropTempView(name)


def prepare_parity(spark: SparkSession, sf_dir: str) -> None:
    """Offline replay hook (bench/deploy): run each parity operator's
    single-batch stream replay once for a corpus version, materializing
    the sink tables the queries then read. The replay is the INGEST
    job of a deployed streaming pipeline — per corpus version, not per
    query — so query latency measures the serving read, matching the
    prepare_dedup / prepare_indexes contract."""
    from trialstreamer_spark.plans.all_queries import QUERIES

    for name in (
        "sessionize_stream_parity",
        "running_totals_stream_parity",
        "windowed_rollup_stream_parity",
        "hopping_rollup_stream_parity",
        "dedup_stream_parity",
        "stream_static_join_parity",
        "stream_stream_join_parity",
        "upsert_sink_stream_parity",
        "topk_stream_parity",
        "watermark_finalize_stream_parity",
        "update_mode_rollup_stream_parity",
        "dedup_expiry_stream_parity",
        "session_window_stream_parity",
    ):
        QUERIES[name](spark, sf_dir)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same determinism pin io.load applies for batch: UTC session zone
    # (epoch extraction below must match DuckDB's naive-timestamp epoch).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The file streaming source requires a DIRECTORY basePath; the corpus
    # stores one bare file per table, so stream the directory with a glob
    # filter selecting just the events file.
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _window_counts(t: DataFrame, *tiebreak: str) -> DataFrame:
    """(window_start_us, event_type, n) rows of a window-rollup sink,
    ordered by window and type (then ``tiebreak``): the shared parity
    projection of the rollup replays. The float total_value column is
    projected OUT (float sums are accumulation-order-dependent across
    engines); counts are exact."""
    return t.select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    ).orderBy("window_start_us", "event_type", *tiebreak)


@query(
    "sessionize_stream_parity",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ),
    sess AS (
      SELECT user_id, ts_us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    agg AS (
      SELECT user_id, sid,
             MIN(ts_us) AS session_start_us,
             MAX(ts_us) AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start_us, session_end_us, n_events
    FROM (SELECT a.*, MAX(sid) OVER (PARTITION BY user_id) AS max_sid
          FROM agg a)
    WHERE sid < max_sid
    ORDER BY user_id, session_start_us
    """,
)
def sessionize_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-close sessions emitted by the STREAMING sessionizer
    (applyInPandasWithState, event-time timeout) over a single-batch
    replay of the events table; oracle = batch sessionization minus each
    user's last (still-open-in-state) session. Proves the stream and
    batch (plans.relational.sessionize) agree on shared semantics."""
    t = _run_stream_to_table(
        spark, sf_dir, "sessionize", lambda ev: sessionize_stream(ev, gap_minutes=30)
    )
    return t.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        F.col("n_events").cast("long").alias("n_events"),
    ).orderBy("user_id", "session_start_us")


@query(
    "running_totals_stream_parity",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS batch_events,
           CAST(COUNT(*) AS BIGINT) AS total_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def running_totals_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exact running totals (integer cents) from the STREAMING
    accumulator over a single-batch replay: one emitted row per user
    with batch == lifetime totals. Driver-checks the
    applyInPandasWithState running-aggregate path end-to-end."""
    t = _run_stream_to_table(spark, sf_dir, "totals", running_totals_stream)
    return t.select(
        "user_id",
        F.col("batch_events").cast("long").alias("batch_events"),
        "total_events",
        "total_cents",
    ).orderBy("user_id")


@query(
    "windowed_rollup_stream_parity",
    oracle="""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start_us, event_type
    """,
)
def windowed_rollup_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed aggregate (watermark + 1-hour tumbling window,
    streaming/pipeline.hourly_event_rollup) driver-checked against the
    batch GROUP BY: complete output mode emits every window state after
    the single replay batch, so the result equals the batch hourly
    rollup exactly. The float total_value column is projected OUT of the
    parity compare (float sums are accumulation-order-dependent across
    engines); counts are exact. Append-mode watermark-close emission is
    covered by tests/test_streaming_ops.py with controlled batches."""
    t = _run_stream_to_table(
        spark, sf_dir, "rollup", hourly_event_rollup, output_mode="complete"
    )
    return _window_counts(t)


@query(
    "dedup_stream_parity",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    ORDER BY user_id, event_type
    """,
)
def dedup_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark) over a
    single-batch replay, keyed on (user_id, event_type). WHICH physical
    row survives per key is arrival-order-dependent, so the parity
    projection is the KEY SET — deterministic and equal to the batch
    DISTINCT. Driver-checks the bounded-state streaming dedup path."""
    t = _run_stream_to_table(
        spark,
        sf_dir,
        "dedup",
        lambda ev: dedup_stream(ev, keys=["user_id", "event_type"]),
    )
    return t.select("user_id", "event_type").orderBy("user_id", "event_type")


@query(
    "stream_static_join_parity",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def stream_static_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join driver-checked against the batch join: the
    events STREAM is enriched against the static customer→nation dim
    chain (re-resolved per micro-batch — the pattern for slowly-changing
    dims), then rolled up per nation in complete mode so the single
    replay batch emits exactly the batch GROUP BY.

    Scale notes: the static side carries NO forced broadcast hint —
    customer is SF-scaled, so Catalyst broadcasts it per micro-batch
    from size stats while small and falls back to shuffling the stream
    side on the join key beyond the threshold — which is where the
    manual salting of plans/relational.salted_skew_join_totals applies,
    since AQE cannot re-plan a running stream. Money is exact integer
    cents (round-then-sum, the engine's float discipline)."""
    from trialstreamer_spark.io import load

    def build(e: DataFrame) -> DataFrame:
        c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        cents = F.round(F.col("value") * 100).cast("long")
        return (
            e.join(dim, e.user_id == dim.c_custkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.count("*").alias("n_events"),
                F.sum(cents).alias("total_cents"),
            )
        )

    t = _run_stream_to_table(
        spark, sf_dir, "stream_static", build, output_mode="complete"
    )
    return t.select(
        "nation",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_cents").cast("long").alias("total_cents"),
    ).orderBy("nation")


@query(
    "stream_stream_join_parity",
    oracle="""
    SELECT v.user_id AS user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           epoch_us(v.ts) AS view_us,
           epoch_us(c.ts) AS click_us
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL 10 MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    ORDER BY v.user_id, view_id, click_id
    """,
)
def stream_stream_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→click attribution within 10
    minutes, per user) driver-checked against the batch interval join.
    Both sides carry watermarks — REQUIRED by Spark for stream-stream
    joins, since the time-range condition is what lets the engine expire
    buffered rows: a view older than the click watermark minus the join
    window can never match again and its state is dropped. In the
    single-batch replay every in-window pair is emitted, so append-mode
    output equals the batch join exactly.

    Scale shape: state is co-partitioned on user_id (the equi-key); its
    size is bounded by watermark delay × event rate per key, not stream
    length. The 100 TB knobs are the watermark delay (state) and key
    salting for hot users (plans/relational.salted_skew_join_totals —
    AQE cannot re-plan a running stream)."""

    def build(ev: DataFrame) -> DataFrame:
        v = (
            ev.where(F.col("event_type") == "view")
            .select(
                F.col("user_id"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "30 minutes")
        )
        c = (
            _stream_events(spark, sf_dir)
            .where(F.col("event_type") == "click")
            .select(
                F.col("user_id").alias("c_user_id"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "30 minutes")
        )
        return v.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
        )

    t = _run_stream_to_table(spark, sf_dir, "stream_stream", build)
    return t.select(
        "user_id",
        "view_id",
        "click_id",
        F.unix_micros("view_ts").alias("view_us"),
        F.unix_micros("click_ts").alias("click_us"),
    ).orderBy("user_id", "view_id", "click_id")


@query(
    "hopping_rollup_stream_parity",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS ts_us FROM events
    ),
    w AS (
      SELECT event_type,
             unnest([ts_us - (ts_us % 1800000000),
                     ts_us - (ts_us % 1800000000) - 1800000000])
               AS window_start_us
      FROM e
    )
    SELECT window_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM w
    GROUP BY window_start_us, event_type
    ORDER BY window_start_us, event_type
    """,
)
def hopping_rollup_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hopping-window aggregate (1 h window / 30 min slide,
    streaming/pipeline.hopping_event_rollup) driver-checked against the
    batch expansion: every event belongs to exactly TWO windows — the
    30-minute bucket it lands in and the one before — so the oracle
    unnests both window starts per event and groups. Complete output
    mode emits every window after the single replay batch. Counts are
    exact; epoch arithmetic is pure int64 µs on both engines."""
    t = _run_stream_to_table(
        spark, sf_dir, "hopping", hopping_event_rollup, output_mode="complete"
    )
    return _window_counts(t)


@query(
    "upsert_sink_stream_parity",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, event_type,
           event_id AS last_event_id,
           ts_us AS last_ts_us,
           CAST(round(value * 100) AS BIGINT) AS last_cents
    FROM ranked WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def upsert_sink_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end PRODUCTION-SINK parity: the events stream runs through
    foreachBatch → keep-last dedupe → ParquetTable MERGE, and the
    resulting latest-state table must equal the batch keep-last per
    (user_id, event_type). The MERGE is the one the PubMed pipeline
    commits with (S13–S16); the keep-last window is this replay's own,
    keyed on the events table's (user_id, event_type) where the
    pipeline's ``latest_events`` resolves pmids by file order. This
    closes the one streaming seam the memory-sink parity queries don't
    exercise: the keyed upsert sink itself, version pointer flip
    included.

    Determinism: single-batch replay (one file source), keep-last
    ordered by (ts DESC, event_id DESC) — a total order; money is
    per-row integer cents.

    Scale shape: each micro-batch dedupes keep-last within itself
    (row_number window over the batch, not the table) and MERGE
    broadcast-anti-joins the batch against the target, so the table
    never shuffles per batch (asserted for bucketed targets in
    tests/test_bucketing.py)."""
    from pyspark.sql import Window as W

    from trialstreamer_spark.operators.upsert import ParquetTable

    def run() -> DataFrame:
        with _scratch_dir("upsert_sink_") as tbl_dir, _scratch_dir(
            "ckpt_upsert_", tmpfs=True
        ) as ckpt:
            table = ParquetTable(
                spark, os.path.join(tbl_dir, "events_latest"), gc_min_age_s=0.0
            )

            def apply_batch(batch: DataFrame, _batch_id: int) -> None:
                w = W.partitionBy("user_id", "event_type").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
                uniq = (
                    batch.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                    .withColumn(
                        "__k",
                        F.concat_ws(
                            "|", F.col("user_id").cast("string"), "event_type"
                        ),
                    )
                )
                table.merge(uniq, "__k")

            (
                _stream_events(spark, sf_dir)
                .writeStream.foreachBatch(apply_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
            return (
                table.read()
                .select(
                    "user_id",
                    "event_type",
                    F.col("event_id").alias("last_event_id"),
                    F.unix_micros("ts").alias("last_ts_us"),
                    F.round(F.col("value") * 100)
                    .cast("long")
                    .alias("last_cents"),
                )
                .localCheckpoint()
            )

    # the cached copy keeps the final order, so a call is one cached
    # scan (a cold parquet read mid-bench measured 3.6x slower than in
    # isolation: 0.537 s vs 0.148 s, BENCH_r08 in git history)
    return _replay(
        spark,
        sf_dir,
        "upsert_sink",
        run,
        post=lambda df: df.orderBy("user_id", "event_type"),
    )


@query(
    "topk_stream_parity",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(ROUND(value * 100) AS BIGINT) DESC, event_id
             ) AS rank
      FROM events
    )
    SELECT user_id,
           CAST(rank AS INTEGER) AS rank,
           event_id,
           value_cents
    FROM r
    WHERE rank <= {TOPK_K}
    ORDER BY user_id, rank
    """,
)
def topk_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming top-k (stateful.topk_stream) over a
    single-batch replay: each user's K highest-value events with exact
    integer cents and pinned (cents DESC, event_id) tie order — equal to
    the batch window-rank oracle because one batch carries the whole
    corpus. Driver-checks the O(keys·K)-state leaderboard path
    end-to-end (the fixed-memory property that survives months of
    events; see stateful.py)."""
    t = _run_stream_to_table(
        spark, sf_dir, "topk", topk_stream, output_mode="update"
    )
    return t.orderBy("user_id", "rank")


def _write_single_parquet(df: DataFrame, dest_dir: str, name: str, mtime: int) -> None:
    """Write ``df`` as ONE bare parquet file ``dest_dir/name`` with a
    pinned modification time — the unit of arrival for the multi-batch
    replay below (the file streaming source admits files oldest-mtime
    first under maxFilesPerTrigger=1, so pinned mtimes ARE the arrival
    order)."""
    import glob as _glob

    stage = os.path.join(dest_dir, f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    dst = os.path.join(dest_dir, name)
    shutil.move(part, dst)
    shutil.rmtree(stage)
    os.utime(dst, (mtime, mtime))


def _staged_replay(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    slices,
    build,
    output_mode: str = "append",
) -> DataFrame:
    """THE multi-batch replay mechanism (shared by every cross-batch
    parity query): stage the events table as N deterministic arrival
    files — one per slice predicate, arrival order pinned by mtime —
    stream them back one file per trigger through ``build(stream)``,
    and run it to a memory sink as a replay sidecar, like every
    single-batch parity.

    ``slices`` is a callable ``events_df -> [Column, ...]`` so a replay
    can derive its cut points from the corpus (e.g. dedup_expiry's
    max-ts time slicing); ``build`` maps the staged stream to the
    streaming result frame. The staging dir is throwaway — the sidecar
    is the artifact — so it is removed even on failure."""
    from trialstreamer_spark.io import load

    def run() -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        ev = load(spark, sf_dir, "events")
        with _scratch_dir(f"parity_{tag}_src_") as src:
            for i, pred in enumerate(slices(ev)):
                _write_single_parquet(
                    ev.where(pred), src, f"b{i}.parquet", (i + 1) * 1_000_000
                )
            stream = (
                spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            return _run_to_memory_sink(spark, build(stream), tag, output_mode)

    return _replay(spark, sf_dir, tag, run)


def _even_odd_slices(ev: DataFrame) -> list:
    """Two-batch arrival split by event-id parity (the backfill-racing-
    the-live-feed harness shape shared by the watermark-finalize and
    update-mode replays)."""
    return [F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1]


@query(
    "watermark_finalize_stream_parity",
    oracle="""
    WITH wm AS (
      SELECT MAX(epoch_us(ts)) - 3600000000 AS wm_us
      FROM events WHERE event_id % 2 = 0
    )
    SELECT CAST(epoch_us(date_trunc('hour', e.ts)) AS BIGINT)
             AS window_start_us,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e, wm
    WHERE epoch_us(date_trunc('hour', e.ts)) + 3600000000 <= wm.wm_us
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def watermark_finalize_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch watermark finalization, driver-checked — the
    semantics a single-batch replay cannot exercise. The corpus
    replays as TWO deterministic arrivals (even event_ids, then odd,
    pinned by file mtime under maxFilesPerTrigger=1): batch 1 seeds
    the 1-hour-delay watermark at max(even ts) − 1h; during batch 2
    exactly the windows ending at or before THAT watermark finalize
    into the append-mode sink. Measured (and asserted by the oracle):
    batch-2 rows landing in those closing windows still MERGE before
    the end-of-batch eviction — Spark's watermark guarantee is
    one-directional (state lives at least until the watermark; late
    data is not guaranteed dropped when its window evicts in the same
    batch it arrives), so the sink equals the FULL hourly rollup
    restricted to windows ending ≤ the batch-1 watermark, which is
    precisely what the oracle states. This pins three production
    behaviors end-to-end through the real streaming runtime: the
    watermark is computed from the PREVIOUS batch's data, append mode
    emits exactly the finalized-window set, and merge-happens-before-
    evict within a batch.

    The replay runs the production hourly rollup
    (``pipeline.hourly_event_rollup``): state is one row per open
    (window, type), the watermark bounds it, and the only exchange is
    the streaming aggregation's own hash partitioning. The two-file
    replay is the harness analog of a backfill racing the live feed."""
    t = _staged_replay(
        spark, sf_dir, "wm_finalize", _even_odd_slices,
        hourly_event_rollup, output_mode="append",
    )
    return _window_counts(t)


@query(
    "update_mode_rollup_stream_parity",
    oracle="""
    WITH er AS (
      SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
               AS window_start_us,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
    ),
    fr AS (
      SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
               AS window_start_us,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ot AS (
      SELECT DISTINCT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
               AS window_start_us, event_type
      FROM events WHERE event_id % 2 = 1
    )
    SELECT * FROM (
      SELECT * FROM er
      UNION ALL
      SELECT fr.window_start_us, fr.event_type, fr.n
      FROM fr JOIN ot ON fr.window_start_us = ot.window_start_us
                     AND fr.event_type = ot.event_type
    )
    ORDER BY window_start_us, event_type, n
    """,
)
def update_mode_rollup_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-mode re-emission across batches, driver-checked — the
    third leg of the output-mode triangle (complete:
    windowed_rollup_stream_parity; append finalization:
    watermark_finalize_stream_parity). Same two-batch even/odd replay;
    in update mode the sink receives each (window, type) key's CURRENT
    count whenever a batch changes it, so the accumulated sink is a
    deterministic MULTISET: every even-only count from batch 1, plus —
    for exactly the keys an odd event touched — the final full count
    re-emitted by batch 2 (measured: batch-2 rows merge into
    watermark-closed windows too; no late drop — consistent with the
    append-mode finding). The oracle states that multiset as
    even-rollup UNION ALL (full rollup semi-joined to odd-touched
    keys); the value-hash compare is order-insensitive, so duplicate
    keys with different counts are exactly what's being asserted.

    This is the contract a downstream keyed-upsert sink relies on:
    update mode re-delivers a key's latest value after every change,
    and MERGE idempotency (upsert_sink_stream_parity) absorbs the
    re-delivery.

    Scale shape: the production rollup (``pipeline.hourly_event_rollup``)
    itself — per-key state, watermark-bounded, one streaming-aggregation
    exchange."""
    t = _staged_replay(
        spark, sf_dir, "upd_rollup", _even_odd_slices,
        hourly_event_rollup, output_mode="update",
    )
    return _window_counts(t, "n")


@query(
    "dedup_expiry_stream_parity",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
    ),
    tm AS (SELECT MAX(ts_us) AS tmax FROM ev),
    ok AS (SELECT DISTINCT user_id, event_type FROM ev, tm
           WHERE ts_us <= tm.tmax - 14400000000),
    rk AS (SELECT DISTINCT user_id, event_type FROM ev, tm
           WHERE ts_us > tm.tmax - 7200000000),
    mk AS (SELECT DISTINCT user_id, event_type FROM ev, tm
           WHERE ts_us > tm.tmax - 14400000000
             AND ts_us <= tm.tmax - 7200000000),
    b2 AS (SELECT user_id, event_type FROM rk
           EXCEPT SELECT user_id, event_type FROM ok),
    b3 AS (SELECT user_id, event_type FROM mk
           EXCEPT SELECT user_id, event_type FROM b2)
    SELECT user_id, event_type FROM ok
    UNION ALL SELECT user_id, event_type FROM b2
    UNION ALL SELECT user_id, event_type FROM b3
    ORDER BY user_id, event_type
    """,
)
def dedup_expiry_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state dedup EXPIRY, driver-checked — the property that
    makes dropDuplicatesWithinWatermark deployable (state is freed once
    the watermark passes a key's horizon, so a re-delivery after it
    legitimately re-emits). A two-batch replay can never show this, so
    the corpus replays as THREE time-sliced arrivals: old traffic
    (≤ tmax−4h), recent traffic (> tmax−2h) that drags the watermark to
    tmax−1h, then the middle slice, whose keys' state is expired by
    construction.

    The emitted multiset encodes three MEASURED semantics (each pinned
    by discriminating experiments at three scale factors; the wrong
    variants differ by up to 23 rows at sf0.1):
    - within the batch that receives a duplicate, existing state is
      intact — batch 2 emits exactly the recent keys unseen in old;
    - state eviction observed by batch N uses the watermark advanced
      by batch N−1's own data (tmax−1h before batch 3), so EVERY
      old-slice key (last sighting ≤ tmax−4h, TTL +1h) is expired by
      then — including keys a batch-2 duplicate touched, because
    - dropped duplicates do NOT extend a key's TTL (expiration is set
      by the emitted row alone).
    Hence batch 3 re-emits every middle key except those batch 2
    freshly emitted: oracle = old-keys ∪ (recent∖old) ∪
    (mid ∖ (recent∖old)), a pure set statement. Keys-only projection
    keeps which-row-won out of the compare.

    The replay runs the production operator
    (``stateful.dedup_stream``). Scale shape: per-key (expiresAt) state
    riding the dedup shuffle's hash partitioning; eviction is the
    watermark predicate — state is bounded by arrival-rate × delay, the
    contract this parity pins."""

    def _time_slices(ev: DataFrame) -> list:
        tmax = ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
        h = 3_600_000_000
        tsu = F.unix_micros("ts")
        return [
            tsu <= tmax - 4 * h,
            tsu > tmax - 2 * h,
            (tsu > tmax - 4 * h) & (tsu <= tmax - 2 * h),
        ]

    t = _staged_replay(
        spark, sf_dir, "dedup_expiry", _time_slices,
        lambda ev: dedup_stream(ev, keys=["user_id", "event_type"]),
        output_mode="append",
    )
    return t.select("user_id", "event_type").orderBy("user_id", "event_type")


@query(
    "session_window_stream_parity",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ),
    sess AS (
      SELECT user_id, ts_us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) + 1800000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
)
def session_window_stream_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session-window aggregation (F.session_window —
    the built-in MergingSessionsExec path, distinct from the custom
    applyInPandasWithState sessionizer that sessionize_stream_parity
    checks) driver-checked against the batch gap-sessionization oracle.
    Complete mode emits every merged session of the single-batch
    replay, so the oracle is the FULL sessionization — including each
    user's final session, which the custom operator's in-batch parity
    must exclude.

    Two native-semantics details the oracle mirrors exactly:
    - a session window is [event_ts, event_ts + gap) and windows merge
      only on OVERLAP, so two events exactly gap apart do NOT merge —
      hence the oracle's ``>= gap`` new-session test (the custom
      sessionizer uses ``> gap``; this parity pins the difference);
    - the emitted session end is last-event-time + gap, not
      last-event-time.

    Scale shape: state is one (user, open-session) row merged by the
    streaming aggregation's own hash exchange on user_id; in production
    a watermark bounds it in append mode — complete mode here is the
    deterministic-replay harness device, same as the other rollup
    parities."""
    t = _run_stream_to_table(
        spark,
        sf_dir,
        "session_window",
        lambda ev: ev.groupBy(
            F.session_window("ts", "30 minutes"), F.col("user_id")
        ).agg(F.count("*").alias("n_events")),
        output_mode="complete",
    )
    return (
        t.select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("session_window.end")).alias(
                "session_end_us"
            ),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_start_us")
    )
