"""Boolean query-AST compiler (G3/F4/J4) vs DuckDB, and file-hygiene
operators (S3/S6/A5/X7/X12)."""

from __future__ import annotations

import gzip
import hashlib
import os

import pytest

from pyspark.sql import functions as F

from tests.oracle_util import run_oracle
from trialstreamer_spark.api import query_ast
from trialstreamer_spark.sources import files


@pytest.fixture(scope="module")
def ann(spark, fixture_dir):
    return spark.read.parquet(
        os.path.join(fixture_dir, "pubmed_annotations.parquet")
    )


def _terms(fixture_dir):
    rows = run_oracle(
        """
        SELECT DISTINCT m.mesh_term AS t
        FROM pubmed_annotations, unnest(population_mesh) AS u(m)
        ORDER BY t LIMIT 4
        """,
        fixture_dir,
    )
    return rows["t"].tolist()


def _oracle_pmids(fixture_dir, where: str) -> set:
    return set(
        run_oracle(
            f"SELECT pmid FROM pubmed_annotations WHERE {where}", fixture_dir
        )["pmid"]
    )


def _has(field, term):
    return (
        f"len(list_filter({field}_mesh, x -> x.mesh_term = '{term}')) > 0"
    )


def test_leaf_and_or_and_nested(spark, ann, fixture_dir):
    a, b, c, d = _terms(fixture_dir)
    # leaf
    got = {r.pmid for r in ann.filter(
        query_ast.compile_predicate(a, "population")).select("pmid").collect()}
    assert got == _oracle_pmids(fixture_dir, _has("population", a))
    # OR group
    got = {r.pmid for r in ann.filter(
        query_ast.compile_predicate(["OR", a, b], "population")
    ).select("pmid").collect()}
    assert got == _oracle_pmids(
        fixture_dir, f"{_has('population', a)} OR {_has('population', b)}"
    )
    assert len(got) > 0
    # nested: a AND (b OR (c AND d)) — implicit AND at top level
    ast = [a, ["OR", b, ["AND", c, d]]]
    got = {r.pmid for r in ann.filter(
        query_ast.compile_predicate(ast, "population")).select("pmid").collect()}
    want = _oracle_pmids(
        fixture_dir,
        f"{_has('population', a)} AND ({_has('population', b)} OR "
        f"({_has('population', c)} AND {_has('population', d)}))"
    )
    assert got == want  # may legitimately be empty for this fixture combo


def test_cui_match_key(spark, ann, fixture_dir):
    cui = run_oracle(
        "SELECT population_mesh[1].cui AS c FROM pubmed_annotations "
        "WHERE len(population_mesh) > 0 LIMIT 1",
        fixture_dir,
    )["c"][0]
    got = {r.pmid for r in ann.filter(
        query_ast.compile_predicate(cui, "population", match_key="cui")
    ).select("pmid").collect()}
    assert got == _oracle_pmids(
        fixture_dir,
        f"len(list_filter(population_mesh, x -> x.cui = '{cui}')) > 0"
    )


def test_rewrite_passes():
    subtree = {"Migraine": ["Migraine", "Migraine with Aura"]}
    drugs = {"Calcium Channel Blockers": ["Amlodipine", "Nifedipine"]}
    ast = ["Migraine", "Calcium Channel Blockers"]
    out = query_ast.unravel(
        ast,
        match_terms=lambda s: [s],  # identity resolution
        subtree=lambda s: subtree.get(s, [s]),
        drugs_from_class=drugs,
    )
    assert out == [
        ["OR", "Migraine", "Migraine with Aura"],
        ["OR", "Amlodipine", "Nifedipine"],
    ]


def test_pico_query_joins(spark, ann, fixture_dir):
    a = _terms(fixture_dir)[0]
    pm = spark.read.parquet(os.path.join(fixture_dir, "pubmed.parquet"))
    rl = spark.read.parquet(
        os.path.join(fixture_dir, "registry_links.parquet")
    )
    out = query_ast.pico_query(ann, p=a, registry_links=rl, pubmed=pm)
    got = {(r.pmid, r.regid) for r in out.select("pmid", "regid").collect()}
    oracle = run_oracle(
        f"""
        SELECT pa.pmid, rl.regid
        FROM pubmed_annotations pa
        JOIN registry_links rl ON rl.pmid = pa.pmid
        JOIN pubmed pm ON pm.pmid = pa.pmid
        WHERE {_has('population', a).replace('population_mesh',
                                             'pa.population_mesh')}
        """,
        fixture_dir,
    )
    assert got == {(r.pmid, r.regid) for r in oracle.itertuples(index=False)}


def test_compile_rejects_malformed():
    with pytest.raises(ValueError):
        query_ast.compile_predicate(["OR"], "population")
    with pytest.raises(ValueError):
        query_ast.compile_predicate([], "population")
    with pytest.raises(ValueError):
        query_ast.pico_query(None)


# ---------------------------------------------------------------------------
# file hygiene
# ---------------------------------------------------------------------------


def test_md5_validation(spark, tmp_path):
    good = tmp_path / "pubmed26n0001.xml.gz"
    good.write_bytes(gzip.compress(b"<x/>"))
    (tmp_path / "pubmed26n0001.xml.gz.md5").write_text(
        f"MD5(pubmed26n0001.xml.gz)= {hashlib.md5(good.read_bytes()).hexdigest()}\n"
    )
    bad = tmp_path / "pubmed26n0002.xml.gz"
    bad.write_bytes(gzip.compress(b"<y/>"))
    (tmp_path / "pubmed26n0002.xml.gz.md5").write_text(
        "MD5(pubmed26n0002.xml.gz)= " + "0" * 32 + "\n"
    )
    with pytest.raises(files.Md5Mismatch):
        files.validate_md5(
            spark, str(tmp_path / "*.xml.gz"), str(tmp_path / "*.md5")
        )
    checked = files.validate_md5(
        spark,
        str(tmp_path / "*.xml.gz"),
        str(tmp_path / "*.md5"),
        raise_on_mismatch=False,
    )
    ok = {os.path.basename(r.path): r.ok for r in checked.collect()}
    assert ok == {"pubmed26n0001.xml.gz": True, "pubmed26n0002.xml.gz": False}


def test_filename_dates(spark):
    df = spark.createDataFrame(
        [("pubmed26n0001.xml.gz", "ICTRP-2024W15.zip"),
         ("pubmed19n1016.xml.gz", "export_2021W01.zip")],
        ["pm", "ictrp"],
    )
    rows = df.select(
        files.baseline_vintage_date(F.col("pm")).alias("vintage"),
        files.ictrp_week_date(F.col("ictrp")).alias("week"),
    ).collect()
    import datetime as dt

    assert rows[0].vintage == dt.date(2025, 12, 31)
    assert rows[1].vintage == dt.date(2018, 12, 31)
    # ISO week 15 of 2024 starts Monday 2024-04-08; week 1 of 2021
    # starts 2021-01-04 (Jan 1-3 are week 53 of 2020)
    assert rows[0].week == dt.date(2024, 4, 8)
    assert rows[1].week == dt.date(2021, 1, 4)


def test_newest_file(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [("a.zip", dt.date(2024, 1, 1)), ("b.zip", dt.date(2024, 6, 1)),
         ("c.zip", dt.date(2023, 12, 1))],
        ["path", "source_date"],
    )
    assert files.newest_file(df).collect()[0].path == "b.zip"


def test_year_backfill(spark):
    from trialstreamer_spark.sources.ictrp_csv import year_backfill_col

    df = spark.createDataFrame(
        [(None, "2019-04-02"), (2021, "1999-01-01"), (None, "garbage")],
        ["year", "date_registered"],
    )
    got = [
        r.y
        for r in df.select(
            year_backfill_col(F.col("year"), F.col("date_registered")).alias("y")
        ).collect()
    ]
    assert got == [2019, 2021, None]
