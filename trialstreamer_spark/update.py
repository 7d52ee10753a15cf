"""Daily update orchestration (reference update.py): the cron entry
point, re-expressed over the Structured-Streaming pipeline.

    python -m trialstreamer_spark.update --source=pubmed \
        --landing /data/pubmed_landing --warehouse /data/warehouse

pubmed: run the availableNow stream over the landing dir (download is an
external fetcher's job, as in the reference where FTP fetch precedes
parse), then incrementally annotate articles missing annotations, then
refresh counts — the reference's download → annotate_rcts →
update_counts sequence (update.py:27-36).

One run touches each input once: the stream parses each landed file once
(streaming/pipeline.py), and the annotator sees each new pmid once — the
to-do rows are annotated into a persisted frame, counted, and committed
from it with ``ParquetTable.append``. Append is exact here because the
to-do set is anti-joined against the annotated pmids, so its keys are
disjoint from the table's by construction; the commit writes only the
new annotations and shares the old files with the previous version.

medrxiv: rebuild the covid table from the landed feed + manual extras
(medrxiv_cov.update()).
"""

from __future__ import annotations

import argparse
import os

from pyspark.sql import functions as F


def update_pubmed(spark, landing: str, warehouse: str, annotator=None) -> None:
    from trialstreamer_spark.functions.annotate import incremental_annotate
    from trialstreamer_spark.operators.upsert import ParquetTable
    from trialstreamer_spark.streaming.pipeline import PubmedPipeline

    pipe = PubmedPipeline(spark, warehouse)
    pipe.run_stream(landing, os.path.join(warehouse, "_checkpoint"))

    # annotate_rcts analog (pubmed.py:561-635): only sensitive-threshold
    # articles not yet annotated
    articles = pipe.articles.read().select(
        "pmid",
        F.col("title"),
        F.col("abstract_plaintext"),
    )
    ann_table = ParquetTable(
        spark, os.path.join(warehouse, "pubmed_annotations")
    )
    done = (
        ann_table.read().select("pmid")
        if ann_table.current_version() is not None
        else spark.createDataFrame([], "pmid string")
    )
    new_ann = incremental_annotate(articles, done, annotator, pico=True).persist()
    try:
        if new_ann.count():
            ann_table.append(new_ann)
    finally:
        new_ann.unpersist()
    # end-of-run watermark row (ref update.py:34) — what /meta reads
    pipe.log_run("fullcheck")


def update_medrxiv(
    spark, feed_path: str, extras_path: str | None, warehouse: str, annotator=None
) -> None:
    from trialstreamer_spark.operators.upsert import ParquetTable
    from trialstreamer_spark.sources import medrxiv

    feed = medrxiv.read_feed(spark, feed_path)
    extras = (
        medrxiv.read_manual_extras(spark, extras_path) if extras_path else None
    )
    table = medrxiv.build_covid_table(
        medrxiv.combined_articles(feed, extras), annotator
    )
    ParquetTable(spark, os.path.join(warehouse, "medrxiv_covid19")).overwrite(
        table
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        description="trialstreamer-spark daily update"
    )
    parser.add_argument("--source", choices=["pubmed", "medrxiv"], required=True)
    parser.add_argument("--landing", help="landing dir (pubmed xml.gz)")
    parser.add_argument("--feed", help="landed medrxiv collection json")
    parser.add_argument("--extras", help="manual_preprints.json", default=None)
    parser.add_argument("--warehouse", required=True)
    args = parser.parse_args(argv)

    from trialstreamer_spark.session import get_spark

    spark = get_spark(f"trialstreamer-update-{args.source}")
    if args.source == "pubmed":
        if not args.landing:
            parser.error("--landing required for pubmed")
        update_pubmed(spark, args.landing, args.warehouse)
    else:
        if not args.feed:
            parser.error("--feed required for medrxiv")
        update_medrxiv(spark, args.feed, args.extras, args.warehouse)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
