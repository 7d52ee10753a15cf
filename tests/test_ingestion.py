"""PubMed XML source + CDC MERGE pipeline tests (SURVEY §5.3:
idempotency, delete propagation, keep-last dedupe; §5.1 parse fidelity).
Files reach the tables only through ``PubmedPipeline.run_stream``: each
test lands its files in a landing dir and runs the stream."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from trialstreamer_spark.sources import pubmed_xml
from trialstreamer_spark.streaming.pipeline import PubmedPipeline


def _records(spark, glob_path: str):
    """The parser's tagged records of the files under ``glob_path``."""
    return pubmed_xml.parse_files(spark.read.format("binaryFile").load(glob_path))


def _land(landing, *paths) -> str:
    """Copy ``paths`` into the landing dir (made if missing)."""
    os.makedirs(landing, exist_ok=True)
    for path in paths:
        shutil.copy(path, landing)
    return str(landing)


def _fixture_files(xml_dir: str) -> list[str]:
    return [os.path.join(xml_dir, f) for f in sorted(os.listdir(xml_dir))]


def _streamed(spark, tmp_path, paths, name: str = "wh") -> PubmedPipeline:
    """A pipeline over warehouse ``tmp_path/name`` after one stream run
    over ``paths`` landed together."""
    pipe = PubmedPipeline(spark, str(tmp_path / name))
    landing = _land(tmp_path / f"{name}_landing", *paths)
    pipe.run_stream(landing, str(tmp_path / f"{name}_ckpt"))
    return pipe


def test_parse_fields(spark, xml_dir):
    df = _records(spark, os.path.join(xml_dir, "pubmed26n0001.xml.gz")).filter(
        F.col("kind") == "article"
    )
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
    df = _records(spark, os.path.join(xml_dir, "*.xml.gz")).filter(
        F.col("kind") == "delete"
    )
    assert {r.pmid for r in df.collect()} == {"2002", "2003"}


def test_batch_cdc_semantics(spark, xml_dir, tmp_path):
    pipe = _streamed(spark, tmp_path, _fixture_files(xml_dir))
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
    # A8 run statistics observed on the stream
    assert pipe.last_batch_stats["n_files"] == 3


def test_in_file_duplicate_keeps_last_occurrence(spark, tmp_path):
    """Duplicate pmids WITHIN one file must resolve to the file's LAST
    occurrence (reference pubmed.py:492-504 reverses the batch and keeps
    the first hit) — the record_idx tie-break, not an arbitrary pick."""
    cit = (
        '<MedlineCitation Status="MEDLINE"><PMID>9001</PMID>'
        "<Article><ArticleTitle>{t}</ArticleTitle></Article>"
        "</MedlineCitation>"
    )
    d = tmp_path / "xml"
    d.mkdir()
    _write_xml(
        d / "pubmed26n0009.xml.gz",
        cit.format(t="first occurrence") + cit.format(t="last occurrence"),
    )
    pipe = _streamed(spark, tmp_path, [d / "pubmed26n0009.xml.gz"])
    rows = {r.pmid: r for r in pipe.articles.read().collect()}
    assert rows["9001"].title == "last occurrence"


def test_batch_idempotent_replay(spark, xml_dir, tmp_path):
    """Replaying the same files under a fresh checkpoint (a lost
    checkpoint, or a deliberate backfill) leaves the same rows."""
    pipe = _streamed(spark, tmp_path, _fixture_files(xml_dir))
    first = sorted((r.pmid, r.title) for r in pipe.articles.read().collect())
    pipe.run_stream(str(tmp_path / "wh_landing"), str(tmp_path / "ckpt_fresh"))
    second = sorted((r.pmid, r.title) for r in pipe.articles.read().collect())
    assert first == second


def test_streaming_availablenow_matches_batch(spark, xml_dir, tmp_path):
    """The fixture files streamed one file per run leave the same rows
    as all of them landed together and streamed in one run. Each run's
    ``last_batch_stats`` is a dict of that run's own observed counts:
    a run that finds no new files leaves it empty."""
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    pipe = PubmedPipeline(spark, str(tmp_path / "wh_stream"))
    for path in _fixture_files(xml_dir):
        _land(landing, path)
        pipe.run_stream(landing, ckpt)
        assert pipe.last_batch_stats == {"n_files": 1}
    got = sorted((r.pmid, r.title) for r in pipe.articles.read().collect())

    whole = _streamed(spark, tmp_path, _fixture_files(xml_dir), "wh_whole")
    want = sorted((r.pmid, r.title) for r in whole.articles.read().collect())
    assert got == want

    # another run with no new files: checkpoint makes it a no-op
    v_before = pipe.articles.current_version()
    pipe.run_stream(landing, ckpt)
    assert pipe.articles.current_version() == v_before
    assert pipe.last_batch_stats == {}


def test_streaming_incremental_new_file(spark, xml_dir, tmp_path):
    landing = str(tmp_path / "landing")
    _land(landing, os.path.join(xml_dir, "pubmed26n0001.xml.gz"))
    pipe = PubmedPipeline(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    pipe.run_stream(landing, ckpt)
    assert "2101" not in {r.pmid for r in pipe.articles.read().collect()}

    _land(landing, os.path.join(xml_dir, "pubmed26n0002.xml.gz"))
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
    the same streamed one file per run as all landed in one run,
    including a pmid deleted in one file and re-inserted in a later
    one."""
    src = tmp_path / "src"
    src.mkdir()
    files = {
        "pubmed26n0001.xml.gz": _cit("1", "one") + _cit("2", "two") + _cit("3", "three"),
        "pubmed26n0002.xml.gz": _del("2", "3"),
        "pubmed26n0003.xml.gz": _cit("3", "three reborn") + _del("1") + _cit("4", "four"),
    }
    for name, inner in files.items():
        _write_xml(src / name, inner)

    only_deletes = _records(spark, str(src / "pubmed26n0002.xml.gz"))
    rows = only_deletes.collect()
    assert {(r.kind, r.pmid) for r in rows} == {("delete", "2"), ("delete", "3")}
    assert all(r.title is None and r.authors is None and r.mesh is None for r in rows)
    only_articles = _records(spark, str(src / "pubmed26n0001.xml.gz"))
    assert {r.kind for r in only_articles.collect()} == {"article"}
    assert only_articles.count() == 3

    def state(pipe):
        return sorted(
            tuple(r) for r in pipe.articles.read().drop("source_filename").collect()
        )

    landing = tmp_path / "landing"
    stream = PubmedPipeline(spark, str(tmp_path / "wh_stream"))
    for name in files:
        _land(landing, src / name)
        stream.run_stream(str(landing), str(tmp_path / "ckpt"))
    whole = _streamed(spark, tmp_path, [src / name for name in files], "wh_whole")

    assert state(stream) == state(whole)
    titles = {r.pmid: r.title for r in whole.articles.read().collect()}
    assert titles == {"3": "three reborn", "4": "four"}
    logged = {r.source_filename for r in stream.audit.read().collect()}
    assert {os.path.basename(f) for f in logged} == set(files)
