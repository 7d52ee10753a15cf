"""Structured-Streaming ingestion pipeline: the daily PubMed update run
(reference update.py → pubmed.py upload_to_postgres) as a file-source
stream with foreachBatch MERGE.

Reference behavior carried over (SURVEY §2.9):
- file-arrival micro-batching with exactly-once bookkeeping
  (update_log + skip sets, pubmed.py:88-117,461-468) → Structured
  Streaming file source + checkpointing; Trigger.AvailableNow = cron run.
- update files applied in filename order (pubmed.py:64), deletes before
  upserts within a file (pubmed.py:534-543), in-batch keep-last
  (pubmed.py:492-504) → ``latest_events``, one resolver per batch (below).
- audit log row per processed batch (dbutil.py:245-247) — kept as a
  queryable table even though the checkpoint already guarantees progress,
  because /meta reads it (cnxapp.py:117-118). It is append-only: each
  batch commits its own rows with ``ParquetTable.append``, never
  re-reading or rewriting the log.

Parse once: a batch's files go through ONE ``pubmed_xml.parse_files``
pass, persisted for the duration of the batch and unpersisted in a
``finally``. The MERGE input and the audit rows are both derived from
that persisted frame, so each landed file is decompressed and parsed
once however many jobs the MERGE and the audit run. Exactly-once still
comes from the checkpoint plus the idempotent MERGE (Structured
Streaming, SIGMOD 2018), not from recomputing the micro-batch per sink
write.

One resolver per batch: replaying the reference's files one by one
leaves each pmid in the state of its LATEST event, ordered by file
name, then delete before article within a file, then position in the
file (``record_idx``). ``latest_events`` finds that event with one
``row_number`` window partitioned by pmid: a pmid whose latest event is
an article is upserted with that row, one whose latest event is a
delete is a delete key. Both go to ``ParquetTable.merge``. The one
window is one pass over the persisted records, where separate dedupe,
last-delete and delete-key steps would each schedule passes of their
own.

At 100 TB: one .gz update file = one task (gz is unsplittable); the
MERGE shuffles on pmid which is the target's bucket key; derived count
tables are recomputed per batch (they are group-bys over flag columns —
cheap relative to the ingest).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from trialstreamer_spark.operators.upsert import ParquetTable
from trialstreamer_spark.sources import pubmed_xml


def latest_events(records: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Resolve one batch of ``parse_files`` records into the MERGE's
    upserts (article rows, without ``kind``) and delete keys (``pmid``)
    by each pmid's latest event (see the module docstring). Records
    without a pmid are dropped."""
    w = W.partitionBy("pmid").orderBy(
        F.col("source_filename").desc(),
        (F.col("kind") == "article").desc(),
        F.col("record_idx").desc(),
    )
    latest = (
        records.filter(F.col("pmid").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        latest.filter(F.col("kind") == "article").drop("kind"),
        latest.filter(F.col("kind") == "delete").select("pmid"),
    )


class PubmedPipeline:
    """Landing-dir → typed tables with CDC. Batch and streaming entry
    points share one _apply_records (one parse, then _apply), so replay
    semantics are identical."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        self.last_batch_stats: dict = {}
        self.articles = ParquetTable(spark, os.path.join(warehouse, "pubmed_raw"))
        self.audit = ParquetTable(spark, os.path.join(warehouse, "update_log"))
        self.year_counts = ParquetTable(
            spark, os.path.join(warehouse, "pubmed_year_counts")
        )

    # -- core batch application (used by both batch & foreachBatch) -------

    def _apply_records(self, records: DataFrame, streaming: bool = False) -> None:
        """Apply one ``pubmed_xml.parse_files`` frame, parsed once: every
        job of the batch reads the persisted records."""
        records = records.persist()
        try:
            self._apply(records, streaming=streaming)
        finally:
            records.unpersist()

    def _apply_batch(
        self, articles: DataFrame, deletes: DataFrame, streaming: bool = False
    ) -> None:
        """Apply frames already split by kind (tests, ad-hoc frames): tag
        them back into the record shape and resolve. Articles without a
        ``record_idx`` tie-break in-file duplicates on a constant."""
        if "record_idx" not in articles.columns:
            articles = articles.withColumn("record_idx", F.lit(0))
        records = articles.withColumn("kind", F.lit("article")).unionByName(
            deletes.withColumn("kind", F.lit("delete")), allowMissingColumns=True
        )
        self._apply(records, streaming=streaming)

    def _apply(self, records: DataFrame, streaming: bool = False) -> None:
        upserts, deletes = latest_events(records)
        # run statistics (SURVEY A8 — the reference's Counter telemetry at
        # pubmed.py:458,480,550): an Observation rides the merge action,
        # so counting costs no extra job. Observation.get blocks on a
        # QueryExecutionListener that never fires for actions inside
        # foreachBatch, so streaming mode observes on the stream instead
        # (run_stream) and this stays batch-only.
        obs = None
        if not streaming:
            from pyspark.sql import Observation

            obs = Observation()
            upserts = upserts.observe(obs, F.count(F.lit(1)).alias("n_upserts"))
        self.articles.merge(upserts, "pmid", deletes=deletes)
        if obs is not None:
            self.last_batch_stats = obs.get
        self._refresh_counts()
        self._log_update(records)

    def _refresh_counts(self) -> None:
        """Matview refresh analog (ref pubmed.py:163-167 + dbutil.py:179-186)."""
        df = self.articles.read()
        self.year_counts.overwrite(
            df.filter(F.col("year").isNotNull())
            .groupBy("year")
            .agg(F.count("*").alias("n_articles"))
        )

    def _log_update(self, records: DataFrame) -> None:
        """Per-file audit rows in the full update_log schema (ref
        dbutil.py:156-163,240-247: update_type, source_filename,
        source_date, download_date, update_date)."""
        files = (
            records.select("source_filename")
            .distinct()
            .select(
                F.lit("pubmed_update").alias("update_type"),
                "source_filename",
                F.lit(None).cast("timestamp").alias("source_date"),
                F.current_timestamp().alias("download_date"),
                F.current_timestamp().alias("update_date"),
            )
        )
        self._append_audit(files)

    def log_run(self, update_type: str) -> None:
        """End-of-run audit row (ref update.py:34
        ``log_update(update_type='fullcheck', ...)``) — the row /meta's
        watermark read keys on (cnxapp.py:117)."""
        row = self.spark.range(1).select(
            F.lit(update_type).alias("update_type"),
            F.lit(None).cast("string").alias("source_filename"),
            F.lit(None).cast("timestamp").alias("source_date"),
            F.current_timestamp().alias("download_date"),
            F.current_timestamp().alias("update_date"),
        )
        self._append_audit(row)

    def _append_audit(self, rows: DataFrame) -> None:
        # a few rows per commit: one file each, so the append-only log
        # grows by one file per commit
        self.audit.append(rows.coalesce(1))

    # -- batch mode --------------------------------------------------------

    def run_batch(self, glob_path: str) -> None:
        self._apply_records(pubmed_xml.read_records(self.spark, glob_path))

    # -- streaming mode ----------------------------------------------------

    def run_stream(self, landing_dir: str, checkpoint_dir: str) -> None:
        """File-source stream over the landing dir; every micro-batch of
        newly-arrived files goes through the same parse→dedupe→MERGE.
        availableNow processes the backlog then stops (the cron run)."""
        files = (
            self.spark.readStream.format("binaryFile")
            .schema(
                "path string, modificationTime timestamp, "
                "length long, content binary"
            )
            .option("pathGlobFilter", "*.xml*")
            .load(landing_dir)
        )

        def process(batch_df: DataFrame, batch_id: int) -> None:
            self._apply_records(pubmed_xml.parse_files(batch_df), streaming=True)

        # A8 streaming leg: per-micro-batch file counts surface in
        # StreamingQueryProgress.observedMetrics
        observed = files.observe(
            "batch_stats", F.count(F.lit(1)).alias("n_files")
        )
        q = (
            observed.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        prog = q.lastProgress
        if prog and prog.get("observedMetrics", {}).get("batch_stats"):
            self.last_batch_stats = prog["observedMetrics"]["batch_stats"]


def hourly_event_rollup(events: DataFrame) -> DataFrame:
    """Streaming windowed aggregate with watermark (SURVEY §2.9 north
    star; batch analog = plans.relational.event_window_agg). Works on a
    streaming or batch events DataFrame."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def hopping_event_rollup(events: DataFrame) -> DataFrame:
    """Streaming HOPPING-window aggregate (1-hour windows sliding every
    30 minutes — each event lands in exactly 2 overlapping windows).
    The overlap is what tumbling windows can't express: rolling-rate
    dashboards and smoothed anomaly baselines read the 30-minute-offset
    series. State per (window, type) key; the watermark closes a window
    30 minutes after its end like any windowed agg."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
        )
    )
