"""Seeded PubMed update-file generator and the replay model it is checked
against.

Files are gzipped ``PubmedArticleSet`` documents in the MEDLINE layout
of ``fixtures/pubmed_xml.py`` (structured abstract, authors, pagination,
DataBank accession, DOI, MeSH), named ``pubmed26nNNNN.xml.gz`` with a
global counter so later files sort later. A day mixes new pmids,
revisions of live pmids (some revised in two files of the day, so the
last file wins), ``DeleteCitation``s, and deletes followed by a
re-insert in the same or a later file.

``Model`` replays files in name order, deletes before upserts within a
file, last occurrence wins: the contract of the update pipeline.
"""

from __future__ import annotations

import gzip
import os
import random
from xml.sax.saxutils import escape

WORDS = (
    "stroke diabetes hypertension aspirin placebo therapy randomized trial "
    "outcome mortality cancer vaccine infection treatment dose cohort blind "
    "chronic acute renal cardiac pulmonary hepatic screening risk efficacy"
).split()

_ARTICLE = """<PubmedArticle>
 <MedlineCitation Status="MEDLINE" IndexingMethod="Automated">
  <PMID>{pmid}</PMID>
  <Article>
   <ArticleTitle>{title}</ArticleTitle>
   <Journal>
    <Title>Journal of Seeded Trials</Title>
    <ISOAbbreviation>J Seed Trials</ISOAbbreviation>
    <JournalIssue><PubDate><Year>{year}</Year></PubDate></JournalIssue>
   </Journal>
   <Abstract>
    <AbstractText Label="BACKGROUND">{background}</AbstractText>
    <AbstractText Label="METHODS">A randomized controlled trial registered as {regid}. {methods}</AbstractText>
   </Abstract>
   <AuthorList>
    <Author><LastName>Name{author}</LastName><ForeName>Alex</ForeName><Initials>A</Initials></Author>
   </AuthorList>
   <Pagination><MedlinePgn>{page}-{page_to}</MedlinePgn></Pagination>
   <PublicationTypeList><PublicationType>Randomized Controlled Trial</PublicationType></PublicationTypeList>
   <DataBankList><DataBank><DataBankName>ClinicalTrials.gov</DataBankName>
    <AccessionNumberList><AccessionNumber>{regid}</AccessionNumber></AccessionNumberList>
   </DataBank></DataBankList>
   <ELocationID EIdType="doi">10.1000/seed.{pmid}</ELocationID>
  </Article>
  <MeshHeadingList>
   <MeshHeading><DescriptorName>Humans</DescriptorName></MeshHeading>
  </MeshHeadingList>
 </MedlineCitation>
</PubmedArticle>"""


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def article_xml(rng: random.Random, pmid: int, title: str) -> str:
    page = rng.randint(1, 900)
    return _ARTICLE.format(
        pmid=pmid,
        title=escape(title),
        year=rng.randint(1990, 2025),
        background=_sentence(rng, rng.randint(15, 40)),
        methods=_sentence(rng, rng.randint(10, 30)),
        regid=f"NCT{pmid % 100000000:08d}",
        author=rng.randint(1, 400),
        page=page,
        page_to=page + rng.randint(1, 12),
    )


def delete_xml(pmid: int) -> str:
    return f"<DeleteCitation><PMID>{pmid}</PMID></DeleteCitation>"


class Model:
    """What the warehouse must hold: live pmid -> title, and the set of
    pmids that were live at the end of some update run (each of those
    gets annotated exactly once)."""

    def __init__(self) -> None:
        self.live: dict[str, str] = {}
        self.annotated: set[str] = set()

    def apply_file(self, entries: list[tuple]) -> None:
        for e in entries:
            if e[0] == "delete":
                self.live.pop(str(e[1]), None)
        for e in entries:
            if e[0] == "upsert":
                self.live[str(e[1])] = e[2]

    def end_run(self) -> int:
        """Close an update run; returns how many pmids get annotated."""
        new = set(self.live) - self.annotated
        self.annotated |= new
        return len(new)


class Generator:
    """Seeded stream of update files. ``day(n, k)`` writes k files
    holding about n records into ``staging`` and returns their paths in
    landing order, after replaying them into ``model``."""

    def __init__(self, seed: int, staging: str, model: Model):
        self.rng = random.Random(seed)
        self.staging = staging
        self.model = model
        self.next_pmid = 30_000_000
        self.file_no = 0
        self.revision: dict[int, int] = {}
        os.makedirs(staging, exist_ok=True)

    def _title(self, pmid: int) -> str:
        r = self.revision.get(pmid, -1) + 1
        self.revision[pmid] = r
        return f"Seeded trial {pmid} revision {r}"

    def _new(self) -> int:
        self.next_pmid += 1
        return self.next_pmid

    def day(self, n: int, k: int, baseline: bool = False) -> list[str]:
        rng = self.rng
        files: list[list[tuple]] = [[] for _ in range(k)]
        live = [int(p) for p in self.model.live]
        # deletes and revisions draw from pmids live before this day
        picks = rng.sample(live, min(len(live), int(n * 0.13))) if live else []
        n_del = 0 if baseline else int(n * 0.01)
        n_reins = 0 if baseline else int(n * 0.01)
        n_twice = 0 if baseline else int(n * 0.02)
        n_rev = 0 if baseline else int(n * 0.08)
        deleted, rest = picks[:n_del], picks[n_del:]
        reinserted, rest = rest[:n_reins], rest[n_reins:]
        twice, rest = rest[:n_twice], rest[n_twice:]
        revised = rest[:n_rev]
        for pmid in deleted:
            files[rng.randrange(k)].append(("delete", pmid))
        for pmid in reinserted:
            i = rng.randrange(k)
            j = rng.randrange(i, k)
            files[i].append(("delete", pmid))
            files[j].append(("upsert", pmid, None))
        for pmid in twice:
            i = rng.randrange(k - 1) if k > 1 else 0
            files[i].append(("upsert", pmid, None))
            files[rng.randrange(i + 1, k) if k > 1 else 0].append(("upsert", pmid, None))
        for pmid in revised:
            files[rng.randrange(k)].append(("upsert", pmid, None))
        used = n_del + 2 * n_reins + 2 * n_twice + n_rev
        for _ in range(max(0, n - used)):
            files[rng.randrange(k)].append(("upsert", self._new(), None))

        paths = []
        for entries in files:
            rng.shuffle(entries)
            # titles in file order, so a later file carries the later revision
            entries = [
                (e[0], e[1], self._title(e[1])) if e[0] == "upsert" else e
                for e in entries
            ]
            self.file_no += 1
            name = f"pubmed26n{self.file_no:04d}.xml.gz"
            body = "".join(
                article_xml(rng, e[1], e[2]) if e[0] == "upsert" else delete_xml(e[1])
                for e in entries
            )
            path = os.path.join(self.staging, name)
            with gzip.open(path, "wb", compresslevel=6) as f:
                f.write(
                    b'<?xml version="1.0"?>\n<PubmedArticleSet>'
                    + body.encode()
                    + b"</PubmedArticleSet>"
                )
            self.model.apply_file(entries)
            paths.append(path)
        return paths
