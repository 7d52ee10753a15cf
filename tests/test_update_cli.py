"""End-to-end daily-update orchestration (reference update.py): stream
ingest → incremental annotate → counts, and the medrxiv rebuild."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from fixtures.pubmed_xml import generate_xml_fixtures
from trialstreamer_spark import update
from trialstreamer_spark.operators.upsert import ParquetTable

XML_DIR = "/tmp/ts_xml_fixtures"


@pytest.fixture(scope="module")
def xml_dir():
    if not os.path.exists(XML_DIR):
        generate_xml_fixtures(XML_DIR)
    return XML_DIR


def test_update_pubmed_end_to_end(spark, xml_dir, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for f in os.listdir(xml_dir):
        shutil.copy(os.path.join(xml_dir, f), landing)
    wh = str(tmp_path / "wh")

    update.update_pubmed(spark, landing, wh)

    articles = ParquetTable(spark, os.path.join(wh, "pubmed_raw")).read()
    ann = ParquetTable(spark, os.path.join(wh, "pubmed_annotations")).read()
    pmids = {r.pmid for r in articles.select("pmid").collect()}
    ann_pmids = {r.pmid for r in ann.select("pmid").collect()}
    assert pmids == ann_pmids and len(pmids) > 0

    # rerun: no new files, no new annotations, state unchanged
    v_art = ParquetTable(spark, os.path.join(wh, "pubmed_raw")).current_version()
    v_ann = ParquetTable(
        spark, os.path.join(wh, "pubmed_annotations")
    ).current_version()
    update.update_pubmed(spark, landing, wh)
    assert (
        ParquetTable(spark, os.path.join(wh, "pubmed_raw")).current_version()
        == v_art
    )
    assert (
        ParquetTable(
            spark, os.path.join(wh, "pubmed_annotations")
        ).current_version()
        == v_ann
    )


def _land(xml_dir: str, landing: str, *names: str) -> None:
    os.makedirs(landing, exist_ok=True)
    for name in names:
        shutil.copy(os.path.join(xml_dir, name), landing)


def test_update_pubmed_parses_each_landed_file_once(spark, xml_dir, tmp_path):
    """Every job of a micro-batch reads the one persisted parse, so the
    stream's input rows over a run equal the number of landed files."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    names = sorted(os.listdir(xml_dir))
    landing = str(tmp_path / "landing")
    _land(xml_dir, landing, *names)
    rows, done = [], threading.Event()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.set()

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        update.update_pubmed(spark, landing, str(tmp_path / "wh"))
        # listener events arrive asynchronously, termination last
        assert done.wait(60)
    finally:
        spark.streams.removeListener(listener)
    assert sum(rows) == len(names)


def test_update_pubmed_annotates_each_new_pmid_once(spark, xml_dir, tmp_path):
    """The annotator sees each new pmid exactly once per run: no probe
    pass, no second pass for the commit, nothing already annotated."""
    from trialstreamer_spark.functions.annotate import DeterministicStubAnnotator

    log = str(tmp_path / "annotated.txt")

    class Recording(DeterministicStubAnnotator):
        def annotate_pico(self, pdf):
            with open(log, "a") as f:
                f.write("".join(f"{p}\n" for p in pdf["pmid"]))
            return super().annotate_pico(pdf)

    def run_and_read(*names):
        _land(xml_dir, landing, *names)
        open(log, "w").close()
        update.update_pubmed(spark, landing, wh, annotator=Recording())
        with open(log) as f:
            return f.read().split()

    landing, wh = str(tmp_path / "landing"), str(tmp_path / "wh")
    first = run_and_read("pubmed26n0001.xml.gz")
    articles = ParquetTable(spark, os.path.join(wh, "pubmed_raw")).read()
    assert sorted(first) == sorted(r.pmid for r in articles.collect())
    # 2101 is the only pmid the update files add; 2003's re-insert was
    # annotated in the first run and is not annotated again
    second = run_and_read("pubmed26n0002.xml.gz", "pubmed26n0003.xml.gz")
    assert second == ["2101"]
    ann = ParquetTable(spark, os.path.join(wh, "pubmed_annotations")).read()
    assert sorted(r.pmid for r in ann.collect()) == sorted(first + second)


def _jobs_during(spark, fn) -> int:
    """Spark jobs started by any thread, the stream's included, while
    ``fn`` runs: job ids are global and increasing, so these are the
    ids between two marker jobs of one job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"

    def marker():
        sc.setJobGroup(group, "job budget marker")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    marker()
    fn()
    marker()
    first, last = sorted(sc.statusTracker().getJobIdsForGroup(group))
    return last - first - 1


def test_update_pubmed_day_job_budget(spark, xml_dir, tmp_path):
    """One update day (stream, MERGE, counts, audit, annotation) runs at
    most 20 Spark jobs, and reading a committed table runs none."""
    landing, wh = str(tmp_path / "landing"), str(tmp_path / "wh")
    _land(xml_dir, landing, "pubmed26n0001.xml.gz")
    update.update_pubmed(spark, landing, wh)  # the baseline load
    _land(xml_dir, landing, "pubmed26n0002.xml.gz", "pubmed26n0003.xml.gz")
    assert _jobs_during(spark, lambda: update.update_pubmed(spark, landing, wh)) <= 20
    for name in ("pubmed_raw", "pubmed_annotations", "update_log", "pubmed_year_counts"):
        t = ParquetTable(spark, os.path.join(wh, name))
        assert _jobs_during(spark, lambda: t.read().schema) == 0, name


def test_update_medrxiv(spark, tmp_path):
    feed = tmp_path / "collection.json"
    feed.write_text(
        json.dumps(
            {
                "rels": [
                    {
                        "rel_title": f"Preprint {i}",
                        "rel_abs": f"Abstract of trial {i}.",
                        "rel_date": "2020-05-04",
                        "rel_doi": f"10.1101/2020.{i}",
                        "rel_link": f"https://medrxiv.org/{i}",
                        "rel_authors": [],
                        "rel_site": "medrxiv",
                    }
                    for i in range(12)
                ]
            }
        )
    )
    wh = str(tmp_path / "wh")
    update.update_medrxiv(spark, str(feed), None, wh)
    out = ParquetTable(spark, os.path.join(wh, "medrxiv_covid19")).read()
    rows = out.collect()
    assert all(r.is_rct_sensitive for r in rows)
    assert 0 < len(rows) <= 12


def test_cli_arg_validation():
    with pytest.raises(SystemExit):
        update.main(["--source", "pubmed", "--warehouse", "/tmp/x"])
    with pytest.raises(SystemExit):
        update.main(["--source", "bogus", "--warehouse", "/tmp/x"])
