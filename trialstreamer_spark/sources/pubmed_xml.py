"""PubMed XML source: gzipped MEDLINE baseline/update files → typed rows
plus CDC delete lists.

The reference stream-parses MedlineCitation elements with ET.iterparse
and yields per-article dicts, with DeleteCitation PMIDs as a CDC delete
action (reference pubmed.py:302-317; field extraction
readers/pmreader.py:50-183). There is no spark-xml jar in this
environment, so the parse runs as an Arrow-batched ``mapInPandas`` over
``binaryFile`` rows — one task per file, ElementTree per record. That is
also the right 100 TB shape: .gz is not splittable, so file-granular
parallelism is the physical maximum regardless of reader; thousands of
files saturate thousands of cores.

Each file is parsed ONCE: ``parse_files`` emits both record kinds in one
``mapInPandas`` pass, tagged by ``kind`` ('article' or 'delete').
``read_articles``/``read_deletes`` filter that one tagged frame, and the
batch and streaming pipelines resolve it whole
(``streaming.pipeline.latest_events``). A delete row fills every
article column with ``None`` explicitly: pandas would fill the gaps with
NaN, which Arrow cannot convert into an array column.

Extraction fidelity notes (pmreader.py line refs):
- title falls back to VernacularTitle (73-84);
- structured abstracts keep (header, text) sections and a plaintext
  join (86-104);
- year prefers PubDate/Year, falls back to a \\b(19|20)\\d{2}\\b regex
  over MedlineDate (143-156);
- pages "123-9" expands to page_from/page_to (130-141);
- status/indexing_method come from MedlineCitation attributes (179-183).
"""

from __future__ import annotations

import gzip
import io
import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_YEAR_RE = re.compile(r"\b(19|20)\d{2}\b")

RECORD_SCHEMA = (
    "kind string, pmid string, status string, indexing_method string, title string, "
    "abstract_plaintext string, abstract array<struct<header:string,text:string>>, "
    "authors array<struct<Initials:string,LastName:string,ForeName:string,Affiliation:string>>, "
    "journal string, journal_abbrv string, year int, mesh array<string>, "
    "pages struct<page_from:string,page_to:string>, ptyp array<string>, "
    "registry_ids array<string>, dois array<string>, source_filename string, "
    "record_idx int"
)

# nested types carry no ", ", so this splits top-level fields only
_RECORD_COLUMNS = [f.split(" ", 1)[0] for f in RECORD_SCHEMA.split(", ")]


def _expand_pages(medline_pgn: str | None) -> dict | None:
    """'123-9' → {page_from: '123', page_to: '129'} (pmreader.py:130-141)."""
    if not medline_pgn or "-" not in medline_pgn:
        return {"page_from": medline_pgn, "page_to": medline_pgn} if medline_pgn else None
    frm, to = medline_pgn.split("-", 1)
    frm, to = frm.strip(), to.strip()
    if len(to) < len(frm) and to.isdigit() and frm.isdigit():
        to = frm[: len(frm) - len(to)] + to
    return {"page_from": frm, "page_to": to}


def _parse_article(elem, source_filename: str) -> dict:
    import xml.etree.ElementTree as ET  # noqa: F401  (kept local to executor)

    def txt(path):
        node = elem.find(path)
        return node.text if node is not None else None

    pmid = txt("PMID")
    title = txt("Article/ArticleTitle") or txt("Article/VernacularTitle")
    sections = []
    for ab in elem.findall("Article/Abstract/AbstractText"):
        sections.append(
            {"header": ab.get("Label"), "text": "".join(ab.itertext()) or None}
        )
    plaintext = (
        "\n".join(s["text"] for s in sections if s["text"]) if sections else None
    )
    authors = [
        {
            "Initials": a.findtext("Initials"),
            "LastName": a.findtext("LastName"),
            "ForeName": a.findtext("ForeName"),
            "Affiliation": a.findtext("AffiliationInfo/Affiliation"),
        }
        for a in elem.findall("Article/AuthorList/Author")
    ]
    year_s = txt("Article/Journal/JournalIssue/PubDate/Year")
    if year_s is None:
        md = txt("Article/Journal/JournalIssue/PubDate/MedlineDate")
        if md:
            m = _YEAR_RE.search(md)
            year_s = m.group(0) if m else None
    mesh = [
        mh.findtext("DescriptorName")
        for mh in elem.findall("MeshHeadingList/MeshHeading")
        if mh.findtext("DescriptorName")
    ]
    ptyp = [
        pt.text
        for pt in elem.findall("Article/PublicationTypeList/PublicationType")
        if pt.text
    ]
    registry_ids = [
        db.findtext("AccessionNumberList/AccessionNumber")
        for db in elem.findall("Article/DataBankList/DataBank")
        if db.findtext("AccessionNumberList/AccessionNumber")
    ]
    dois = [
        el.text
        for el in elem.findall("Article/ELocationID")
        if el.get("EIdType") == "doi" and el.text
    ]
    return {
        "pmid": pmid,
        "status": elem.get("Status"),
        "indexing_method": elem.get("IndexingMethod"),
        "title": title,
        "abstract_plaintext": plaintext,
        "abstract": sections or None,
        "authors": authors or None,
        "journal": txt("Article/Journal/Title"),
        "journal_abbrv": txt("Article/Journal/ISOAbbreviation"),
        "year": int(year_s) if year_s else None,
        "mesh": mesh or None,
        "pages": _expand_pages(txt("Article/Pagination/MedlinePgn")),
        "ptyp": ptyp or None,
        "registry_ids": registry_ids or None,
        "dois": dois or None,
        "source_filename": source_filename,
    }


def _iter_file(content: bytes, path: str) -> Iterator[dict]:
    import xml.etree.ElementTree as ET

    raw = gzip.decompress(content) if path.endswith(".gz") else content
    idx = 0
    for _, elem in ET.iterparse(io.BytesIO(raw), events=("end",)):
        if elem.tag == "MedlineCitation":
            # record_idx: position within the file, so in-file duplicate
            # pmids resolve deterministically to the LAST occurrence —
            # the reference's reversed-batch first-hit (pubmed.py:492-504)
            row = _parse_article(elem, path)
            row["kind"] = "article"
            row["record_idx"] = idx
            idx += 1
            yield row
            elem.clear()
        elif elem.tag == "DeleteCitation":
            for p in elem.findall("PMID"):
                yield {"kind": "delete", "pmid": p.text, "source_filename": path}
            elem.clear()


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            rows.extend(_iter_file(bytes(content), path))
        # column-wise with explicit None: a missing dict key must not
        # become NaN (see the module docstring)
        yield pd.DataFrame({c: [r.get(c) for r in rows] for c in _RECORD_COLUMNS})


def parse_files(files: DataFrame) -> DataFrame:
    """Tagged records of a ``binaryFile`` frame (batch or one streaming
    micro-batch) in one parse: ``kind`` says whether a row is an
    article upsert or a DeleteCitation pmid."""
    return files.select("path", "content").mapInPandas(
        _parse_batches, schema=RECORD_SCHEMA
    )


def read_records(spark: SparkSession, glob_path: str) -> DataFrame:
    return parse_files(spark.read.format("binaryFile").load(glob_path))


def read_articles(spark: SparkSession, glob_path: str) -> DataFrame:
    """Upsert rows of the files (ref pubmed.py:302-314)."""
    records = read_records(spark, glob_path)
    return records.filter(F.col("kind") == "article").drop("kind")


def read_deletes(spark: SparkSession, glob_path: str) -> DataFrame:
    """CDC delete list of the files (ref pubmed.py:316-317)."""
    records = read_records(spark, glob_path)
    return records.filter(F.col("kind") == "delete").select("pmid", "source_filename")
