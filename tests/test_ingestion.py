"""PubMed XML source + CDC MERGE pipeline tests (SURVEY §5.3:
idempotency, delete propagation, keep-last dedupe; §5.1 parse fidelity)."""

from __future__ import annotations

import os
import shutil

import pytest

from fixtures.pubmed_xml import generate_xml_fixtures
from trialstreamer_spark.sources import pubmed_xml
from trialstreamer_spark.streaming.pipeline import PubmedPipeline

XML_DIR = "/tmp/ts_xml_fixtures"


@pytest.fixture(scope="module")
def xml_dir():
    shutil.rmtree(XML_DIR, ignore_errors=True)
    generate_xml_fixtures(XML_DIR)
    return XML_DIR


def test_parse_fields(spark, xml_dir):
    df = pubmed_xml.read_articles(spark, os.path.join(xml_dir, "pubmed26n0001.xml.gz"))
    rows = {r.pmid: r for r in df.collect()}
    assert len(rows) == 12
    r = rows["2001"]
    assert r.title == "Fixture title 2001"
    assert r.year == 2021
    assert r.pages.page_from == "123" and r.pages.page_to == "129"
    assert r.journal == "Journal of Fixtures"
    assert [a.LastName for a in r.authors] == ["Smith", "Lee"]
    assert "Humans" in r.mesh
    assert r.registry_ids == [f"NCT{2001 % 100000000:08d}"]
    assert r.dois == ["10.1000/fix.2001"]
    assert "randomized controlled trial (RCT)" in r.abstract_plaintext
    # fallbacks
    assert rows["2011"].title == "Fixture title 2011"  # VernacularTitle
    assert rows["2012"].year == 1998  # MedlineDate regex


def test_parse_deletes(spark, xml_dir):
    df = pubmed_xml.read_deletes(spark, os.path.join(xml_dir, "*.xml.gz"))
    assert {r.pmid for r in df.collect()} == {"2002", "2003"}


@pytest.fixture()
def warehouse(tmp_path):
    return str(tmp_path / "wh")


def test_batch_cdc_semantics(spark, xml_dir, warehouse):
    pipe = PubmedPipeline(spark, warehouse)
    pipe.run_batch(os.path.join(xml_dir, "*.xml.gz"))
    state = {r.pmid: r for r in pipe.articles.read().collect()}
    # last file wins for twice-updated pmid (file order = lexical)
    assert state["2001"].title == "Updated-twice title 2001"
    # deleted pmid is gone
    assert "2002" not in state
    # deleted-then-reinserted pmid survives with the new row
    assert state["2003"].title == "Reborn title 2003"
    # new pmid from update file present
    assert "2101" in state
    # baseline article untouched
    assert state["2005"].title == "Fixture title 2005"

    # audit log has all three files
    files = {r.source_filename for r in pipe.audit.read().collect()}
    assert len(files) == 3
    # derived counts refreshed
    yc = {r.year: r.n_articles for r in pipe.year_counts.read().collect()}
    assert sum(yc.values()) == len(state)
    # A8 run statistics observed on the merge action
    assert pipe.last_batch_stats["n_upserts"] > 0


def test_in_file_duplicate_keeps_last_occurrence(spark, tmp_path, warehouse):
    """Duplicate pmids WITHIN one file must resolve to the file's LAST
    occurrence (reference pubmed.py:492-504 reverses the batch and keeps
    the first hit) — the record_idx tie-break, not an arbitrary pick."""
    import gzip

    cit = (
        '<MedlineCitation Status="MEDLINE"><PMID>9001</PMID>'
        "<Article><ArticleTitle>{t}</ArticleTitle></Article>"
        "</MedlineCitation>"
    )
    xml = (
        "<PubmedArticleSet>"
        + cit.format(t="first occurrence")
        + cit.format(t="last occurrence")
        + "</PubmedArticleSet>"
    )
    d = tmp_path / "xml"
    d.mkdir()
    with gzip.open(d / "pubmed26n0009.xml.gz", "wb") as fh:
        fh.write(xml.encode())
    pipe = PubmedPipeline(spark, warehouse)
    pipe.run_batch(os.path.join(str(d), "*.xml.gz"))
    rows = {r.pmid: r for r in pipe.articles.read().collect()}
    assert rows["9001"].title == "last occurrence"


def test_batch_idempotent_replay(spark, xml_dir, warehouse):
    pipe = PubmedPipeline(spark, warehouse)
    pipe.run_batch(os.path.join(xml_dir, "*.xml.gz"))
    first = sorted((r.pmid, r.title) for r in pipe.articles.read().collect())
    pipe.run_batch(os.path.join(xml_dir, "*.xml.gz"))
    second = sorted((r.pmid, r.title) for r in pipe.articles.read().collect())
    assert first == second


def test_streaming_availablenow_matches_batch(spark, xml_dir, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for f in os.listdir(xml_dir):
        shutil.copy(os.path.join(xml_dir, f), landing)

    wh_stream = str(tmp_path / "wh_stream")
    pipe = PubmedPipeline(spark, wh_stream)
    pipe.run_stream(landing, str(tmp_path / "ckpt"))
    got = sorted((r.pmid, r.title) for r in pipe.articles.read().collect())

    wh_batch = str(tmp_path / "wh_batch")
    batch_pipe = PubmedPipeline(spark, wh_batch)
    batch_pipe.run_batch(os.path.join(xml_dir, "*.xml.gz"))
    want = sorted((r.pmid, r.title) for r in batch_pipe.articles.read().collect())
    assert got == want

    # second run with no new files: checkpoint makes it a no-op
    v_before = pipe.articles.current_version()
    pipe.run_stream(landing, str(tmp_path / "ckpt"))
    assert pipe.articles.current_version() == v_before


def test_streaming_incremental_new_file(spark, xml_dir, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    shutil.copy(os.path.join(xml_dir, "pubmed26n0001.xml.gz"), landing)
    pipe = PubmedPipeline(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    pipe.run_stream(landing, ckpt)
    assert "2101" not in {r.pmid for r in pipe.articles.read().collect()}

    shutil.copy(os.path.join(xml_dir, "pubmed26n0002.xml.gz"), landing)
    pipe.run_stream(landing, ckpt)
    state = {r.pmid: r for r in pipe.articles.read().collect()}
    assert "2101" in state and "2002" not in state
    assert state["2001"].title == "Updated-once title 2001"


def _write_xml(path, inner: str) -> None:
    import gzip

    with gzip.open(path, "wb") as fh:
        fh.write(f"<PubmedArticleSet>{inner}</PubmedArticleSet>".encode())


def _cit(pmid: str, title: str) -> str:
    return (
        f'<MedlineCitation Status="MEDLINE"><PMID>{pmid}</PMID><Article>'
        f"<ArticleTitle>{title}</ArticleTitle></Article></MedlineCitation>"
    )


def _del(*pmids: str) -> str:
    return (
        "<DeleteCitation>"
        + "".join(f"<PMID>{p}</PMID>" for p in pmids)
        + "</DeleteCitation>"
    )


def test_single_pass_reader_streaming_matches_batch(spark, tmp_path):
    """The one-pass reader fills the other kind's columns with nulls.
    Files holding only articles, only DeleteCitations, or both must read
    the same streamed one file per micro-batch as in one batch, including
    a pmid deleted in one file and re-inserted in a later one."""
    src = tmp_path / "src"
    src.mkdir()
    files = {
        "pubmed26n0001.xml.gz": _cit("1", "one") + _cit("2", "two") + _cit("3", "three"),
        "pubmed26n0002.xml.gz": _del("2", "3"),
        "pubmed26n0003.xml.gz": _cit("3", "three reborn") + _del("1") + _cit("4", "four"),
    }
    for name, inner in files.items():
        _write_xml(src / name, inner)

    only_deletes = pubmed_xml.read_records(spark, str(src / "pubmed26n0002.xml.gz"))
    rows = only_deletes.collect()
    assert {(r.kind, r.pmid) for r in rows} == {("delete", "2"), ("delete", "3")}
    assert all(r.title is None and r.authors is None and r.mesh is None for r in rows)
    only_articles = str(src / "pubmed26n0001.xml.gz")
    assert pubmed_xml.read_deletes(spark, only_articles).count() == 0
    assert pubmed_xml.read_articles(spark, only_articles).count() == 3

    def state(pipe):
        return sorted(
            tuple(r) for r in pipe.articles.read().drop("source_filename").collect()
        )

    landing = tmp_path / "landing"
    landing.mkdir()
    stream = PubmedPipeline(spark, str(tmp_path / "wh_stream"))
    for name in files:
        shutil.copy(src / name, landing / name)
        stream.run_stream(str(landing), str(tmp_path / "ckpt"))
    batch = PubmedPipeline(spark, str(tmp_path / "wh_batch"))
    batch.run_batch(str(src / "*.xml.gz"))

    assert state(stream) == state(batch)
    titles = {r.pmid: r.title for r in batch.articles.read().collect()}
    assert titles == {"3": "three reborn", "4": "four"}
    logged = {r.source_filename for r in stream.audit.read().collect()}
    assert {os.path.basename(f) for f in logged} == set(files)
