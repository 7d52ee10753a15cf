"""Postings-table search path ≡ exists()-scan search path, plus the
retmode additions (abbrev enrichment, RIS export, dataset export)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trialstreamer_spark import sidecars
from trialstreamer_spark.api import engine
from trialstreamer_spark.plans import postings as P


@pytest.fixture(scope="module")
def tables(spark, fixture_dir):
    return engine.Tables(spark, fixture_dir)


def _expanded(tables, terms):
    return [
        {"field": t["field"], "cuis": engine.subtree_cuis(tables, t["cui"])}
        for t in terms
    ]


def _cooccurring_terms(ann):
    """A (population, interventions) CUI pair from one annotation row,
    so the conjunctive query is guaranteed non-empty."""
    row = (
        ann.filter(
            (F.size("population_mesh") > 0) & (F.size("interventions_mesh") > 0)
        )
        .select(
            F.col("population_mesh")[0]["cui"].alias("p"),
            F.col("interventions_mesh")[0]["cui"].alias("i"),
        )
        .first()
    )
    return [
        {"field": "population", "cui": row.p},
        {"field": "interventions", "cui": row.i},
    ]


@pytest.mark.parametrize("n_terms", [1, 2])
def test_postings_path_equals_exists_path(spark, tables, n_terms):
    ann = tables.t("pubmed_annotations")
    terms = _cooccurring_terms(ann)[:n_terms]
    post = P.build_postings(ann)
    via_postings = {
        r.pmid
        for r in P.matching_pmids(post, _expanded(tables, terms)).collect()
    }
    via_exists = {
        r.pmid
        for r in ann.filter(engine.terms_predicate(tables, terms))
        .select("pmid")
        .collect()
    }
    assert via_postings == via_exists
    assert len(via_postings) > 0


def test_search_articles_semijoin(spark, tables):
    terms = [{"field": "population", "cui": "C0000001"}]
    out = P.search_articles(
        tables.t("pubmed"),
        P.build_postings(tables.t("pubmed_annotations")),
        _expanded(tables, terms),
    )
    assert "ti" in out.columns  # full article rows
    assert out.count() > 0
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in p


def test_with_abbreviations(spark, tables):
    df = spark.createDataFrame(
        [("p1", "We ran a randomized controlled trial (RCT) in Boston.")],
        ["pmid", "ab"],
    )
    out = engine.with_abbreviations(df).collect()[0]
    assert dict(out.abbrev_dict) == {"RCT": "randomized controlled trial"}


def test_picosearch_ris(spark, tables):
    text = engine.picosearch_ris(
        tables, [{"field": "population", "cui": "C0000001"}]
    )
    assert "TY  - JOUR" in text
    assert "DB  - Trialstreamer" in text
    assert "ER  - " in text
    # one TY per record, records non-empty
    assert text.count("TY  - JOUR") == text.count("ER  - ") > 0


def test_export_articles(spark, tables):
    out = engine.export_articles(tables, "balanced")
    assert out.count() > 0
    assert set(out.columns) == {"pmid", "ti", "ab", "year", "pm_data"}
    with pytest.raises(ValueError):
        engine.export_articles(tables, "bogus")


def test_written_postings_prune_shard_directories(spark, tables, tmp_path):
    """The materialized postings layout (hive-partitioned by cui_shard,
    sorted by cui): a term lookup must (a) put the shard predicate in
    PartitionFilters — directory pruning before any file opens, (b)
    physically touch a strict subset of the data files the exists()-era
    full postings scan reads, and (c) return the identical pmid set."""
    ann = tables.t("pubmed_annotations")
    terms = _cooccurring_terms(ann)[:1]
    exp = _expanded(tables, terms)
    out = str(tmp_path / "postings_cui")
    P.write_postings(P.build_postings(ann), out)

    sharded = P.read_postings(spark, out)
    got = P.matching_pmids(sharded, exp)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan = plan[plan.index("FileScan") :]
    pf = scan[scan.index("PartitionFilters") : scan.index("PushedFilters")]
    assert "cui_shard" in pf, f"no directory pruning:\n{pf}"

    touched, total = P.postings_files_for(out, exp)
    assert 0 < touched < total, (
        f"lookup touches {touched}/{total} files — expected a strict subset"
    )

    want = {
        r.pmid for r in P.matching_pmids(P.build_postings(ann), exp).collect()
    }
    assert {r.pmid for r in got.collect()} == want and want


def test_search_path_crossover(spark, tables):
    """The planner picks each path at its intended scale, from catalog
    byte stats alone: scan while the index is absent, scan while the
    annotations table is below the crossover even WITH an index, and
    postings only above it. Both paths return identical picosearch
    rows."""
    import shutil

    post_dir = os.path.join(tables.root, engine.POSTINGS_DIR)
    shutil.rmtree(post_dir, ignore_errors=True)
    # no index on disk -> scan, at any threshold
    assert engine.choose_search_path(tables, min_bytes=0) == "scan"

    engine.prepare_postings(tables)
    try:
        # index present, but the fixture annotations are far below the
        # 64 MB crossover -> the scan is still the right plan
        assert engine.choose_search_path(tables) == "scan"
        # above the crossover (forced by zeroing it) -> postings
        assert engine.choose_search_path(tables, min_bytes=0) == "postings"

        terms = _cooccurring_terms(tables.t("pubmed_annotations"))
        via_scan = engine.picosearch(tables, terms, path="scan")
        via_post = engine.picosearch(tables, terms, path="postings")
        key = [r.pmid for r in via_scan.select("pmid").collect()]
        assert key == [r.pmid for r in via_post.select("pmid").collect()]
        assert key
    finally:
        shutil.rmtree(post_dir, ignore_errors=True)


def test_stale_postings_index_falls_back_to_scan(spark, tables):
    """Round-6 (advice): the on-disk postings index is stamped with the
    annotations-table version it was built from; after the annotations
    change (merge/overwrite/rewrite), path='auto' must NOT serve the
    stale index — it falls back to the always-correct scan until
    prepare_postings rebuilds."""
    import shutil

    post_dir = os.path.join(tables.root, engine.POSTINGS_DIR)
    shutil.rmtree(post_dir, ignore_errors=True)
    engine.prepare_postings(tables)
    try:
        assert engine.choose_search_path(tables, min_bytes=0) == "postings"
        # simulate a table rewrite: any content/mtime change flips the
        # catalog fingerprint the stamp is compared against
        ann_path = os.path.join(tables.root, "pubmed_annotations.parquet")
        for dirpath, _dirs, files in os.walk(ann_path):
            for f in files:
                os.utime(os.path.join(dirpath, f))
        if os.path.isfile(ann_path):
            os.utime(ann_path)
        assert engine.choose_search_path(tables, min_bytes=0) == "scan"
        # rebuild restores the postings path
        engine.prepare_postings(tables)
        assert engine.choose_search_path(tables, min_bytes=0) == "postings"
        # an index with no stamp at all (pre-round-6 layout) is treated
        # as stale
        os.remove(os.path.join(post_dir, sidecars.STAMP))
        assert engine.choose_search_path(tables, min_bytes=0) == "scan"
    finally:
        shutil.rmtree(post_dir, ignore_errors=True)


def test_doc_token_postings_prunes_shards(spark, monkeypatch, tmp_path):
    """Round-6 directive #7: the token-postings search is served from
    the sharded on-disk index with directory-level pruning — each term
    leg's scan carries a tok_shard PartitionFilter, and the lookup
    touches a strict subset of shard directories."""
    import re

    from trialstreamer_spark.operators import retrieval as R

    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(tmp_path))
    sf = SF_DIR
    from trialstreamer_spark.plans.all_queries import QUERIES

    q = QUERIES["postings_term_search"](spark, sf)
    plan = q._jdf.queryExecution().executedPlan().toString()
    prunes = re.findall(r"PartitionFilters: \[[^\]]*tok_shard[^\]]*\]", plan)
    assert len(prunes) == len(R.POSTINGS_QUERY_TERMS), plan
    # strict-subset directory touch
    path = R.doc_token_postings(spark, sf)
    from trialstreamer_spark.plans.postings import shard_of

    wanted = {shard_of(t, R.TOK_SHARDS) for t in R.POSTINGS_QUERY_TERMS}
    total = {
        int(d.split("=")[1])
        for d in os.listdir(path)
        if d.startswith("tok_shard=")
    }
    assert wanted < total
    # build is reused (stamp current): a second call returns the same
    # dir without rewriting
    import os as _os

    mtime = _os.path.getmtime(path)
    R.doc_token_postings(spark, sf)
    assert _os.path.getmtime(path) == mtime
