"""Unpaywall / MedRxiv / Mendeley source tests (SURVEY S9, S10, J2/J3,
X8, U2) — fixture-table legs oracle-checked against DuckDB, feed parsing
against inline JSON files."""

from __future__ import annotations

import gzip
import json
import os

import pytest

from pyspark.sql import functions as F

from tests.oracle_util import run_oracle
from trialstreamer_spark.sources import medrxiv, mendeley, upw


@pytest.fixture(scope="module")
def fixture_tables(spark, fixture_dir):
    return {
        name: spark.read.parquet(os.path.join(fixture_dir, f"{name}.parquet"))
        for name in ("pubmed", "pmid_dois")
    }


# ---------------------------------------------------------------------------
# Unpaywall
# ---------------------------------------------------------------------------


def test_pmid_doi_lookup_precedence(spark, fixture_tables, fixture_dir):
    lookup = upw.pmid_doi_lookup(
        fixture_tables["pubmed"], fixture_tables["pmid_dois"]
    )
    got = {r.doi: r.pmid for r in lookup.collect()}
    # one row per doi
    assert lookup.count() == len(got)
    oracle = run_oracle(
        """
        WITH pm AS (
          SELECT pm_data.dois[1] AS doi, pmid, 0 AS prio
          FROM pubmed WHERE is_rct_balanced AND len(pm_data.dois) > 0
        ),
        md AS (
          SELECT d.doi, d.pmid, 1 AS prio
          FROM pmid_dois d JOIN pubmed p USING (pmid)
          WHERE p.is_rct_balanced AND length(d.doi) > 12
        ),
        u AS (SELECT * FROM pm UNION ALL SELECT * FROM md)
        SELECT doi, pmid FROM (
          SELECT doi, pmid,
                 row_number() OVER (PARTITION BY doi ORDER BY prio, pmid) rn
          FROM u) WHERE rn = 1
        """,
        fixture_dir,
    )
    want = dict(zip(oracle["doi"], oracle["pmid"]))
    assert got == want and len(got) > 0


def test_upw_dump_join(spark, fixture_tables, tmp_path):
    lookup = upw.pmid_doi_lookup(
        fixture_tables["pubmed"], fixture_tables["pmid_dois"]
    )
    dois = [r.doi for r in lookup.limit(4).collect()]
    dump_rows = [
        {"doi": dois[0], "is_oa": True,
         "best_oa_location": {"url": "http://x/1", "url_for_pdf": "http://x/1.pdf"}},
        {"doi": dois[1], "is_oa": False,  # dropped: not OA
         "best_oa_location": {"url": "http://x/2", "url_for_pdf": None}},
        {"doi": "10.9999/unknown", "is_oa": True,  # dropped: no pmid
         "best_oa_location": {"url": "http://x/3", "url_for_pdf": None}},
        {"doi": dois[2], "is_oa": True,
         "best_oa_location": {"url": "http://x/4", "url_for_pdf": None}},
    ]
    path = tmp_path / "upw.jsonl.gz"
    with gzip.open(path, "wt") as f:
        for r in dump_rows:
            f.write(json.dumps(r) + "\n")

    dump = upw.read_upw_dump(spark, str(path))
    out = upw.build_upw_table(dump, lookup)
    rows = {r.url: r for r in out.collect()}
    assert set(rows) == {"http://x/1", "http://x/4"}
    assert rows["http://x/1"].url_for_pdf == "http://x/1.pdf"
    assert rows["http://x/1"].is_oa is True
    # raw line preserved as upw_data
    assert json.loads(rows["http://x/4"].upw_data)["doi"] == dois[2]
    # the huge dump side must broadcast the lookup, not shuffle itself
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pmid_doi_lookup_rejects_bad_flag(fixture_tables):
    with pytest.raises(ValueError):
        upw.pmid_doi_lookup(
            fixture_tables["pubmed"], fixture_tables["pmid_dois"], "year"
        )


# ---------------------------------------------------------------------------
# MedRxiv
# ---------------------------------------------------------------------------

FEED = {
    "rels": [
        {
            "rel_title": "Trial of drug A for COVID-19",
            "rel_abs": "A randomized controlled trial of drug A.",
            "rel_date": "2020-05-04",
            "rel_doi": "10.1101/2020.01.001",
            "rel_link": "https://medrxiv.org/1",
            "rel_authors": [
                {"author_name": "Ada Lovelace", "author_inst": "X"},
                {"author_name": "Grace Hopper", "author_inst": "Y"},
            ],
            "rel_site": "medrxiv",
        },
        {
            "rel_title": "Observational study B",
            "rel_abs": "A cohort study.",
            "rel_date": "2021-01-15",
            "rel_doi": "10.1101/2021.02.002",
            "rel_link": "https://medrxiv.org/2",
            "rel_authors": [],
            "rel_site": "biorxiv",
        },
    ]
}

EXTRAS = [
    {
        "ti": "Manual preprint C",
        "ab": "Hand-curated RCT abstract.",
        "date": "2020-07-01",
        "doi": "10.1101/2020.03.003",
        "url": "https://medrxiv.org/3",
        "year": 2020,
        "authors": ["Alan Turing"],
        "source": "medrxiv",
    }
]


@pytest.fixture(scope="module")
def feed_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("medrxiv")
    feed = d / "collection.json"
    feed.write_text(json.dumps(FEED))
    extras = d / "manual_preprints.json"
    extras.write_text(json.dumps(EXTRAS))
    return str(feed), str(extras)


def test_medrxiv_feed_parse(spark, feed_paths):
    feed_path, extras_path = feed_paths
    feed = medrxiv.read_feed(spark, feed_path)
    rows = {r.doi: r for r in feed.collect()}
    assert len(rows) == 2
    r = rows["10.1101/2020.01.001"]
    assert r.ti.startswith("Trial of drug A")
    assert r.year == 2020
    # authors stored as array<struct<author_name>> (engine indexes
    # authors[i]['author_name'])
    assert [a.author_name for a in r.authors] == ["Ada Lovelace", "Grace Hopper"]
    assert r.source == "medrxiv"

    both = medrxiv.combined_articles(
        feed, medrxiv.read_manual_extras(spark, extras_path)
    )
    assert both.count() == 3
    assert both.filter(F.col("doi") == "10.1101/2020.03.003").count() == 1


def test_medrxiv_covid_table(spark, feed_paths):
    feed_path, extras_path = feed_paths
    articles = medrxiv.combined_articles(
        medrxiv.read_feed(spark, feed_path),
        medrxiv.read_manual_extras(spark, extras_path),
    )
    out = medrxiv.build_covid_table(articles)
    rows = out.collect()
    # stub annotator: only sensitive-threshold rows kept
    assert all(r.is_rct_sensitive for r in rows)
    assert 0 < len(rows) <= 3
    for r in rows:
        assert r.num_randomized is None or r.num_randomized <= 1_000_000
        assert r.doi and r.year in (2020, 2021)


# ---------------------------------------------------------------------------
# Mendeley
# ---------------------------------------------------------------------------


def test_doi_clean_cases(spark):
    cases = [
        # (raw, expected)
        ("10.1000/plain.doi", "10.1000/plain.doi"),
        ('<a href="https://doi.org/10.1000/xyz123">link</a>', "10.1000/xyz123"),
        ("https://doi.org/10.5555/abc.999", "10.5555/abc.999"),
        ("doi: 10.1234/embedded-1;2", "10.1234/embedded-1;2"),
        ("not a doi at all", None),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], ["raw_doi"])
    out = mendeley.clean_lookup_results(
        df.withColumn("pmid", F.lit("p"))
    ).collect()
    got = [r.doi for r in out]
    assert got == [e for _, e in cases]


def test_todo_pmids(spark, fixture_tables, fixture_dir):
    todo = mendeley.todo_pmids(
        fixture_tables["pubmed"], fixture_tables["pmid_dois"]
    )
    got = {r.pmid for r in todo.collect()}
    oracle = run_oracle(
        """
        SELECT pmid FROM pubmed
        WHERE is_rct_balanced AND len(pm_data.dois) = 0
          AND pmid NOT IN (SELECT pmid FROM pmid_dois)
        """,
        fixture_dir,
    )
    assert got == set(oracle["pmid"])
