"""trialstreamer query-surface parity tests: the engine's DataFrame plans
vs hand-written DuckDB SQL over the same fixture parquet (the analog of
running the reference's SQL on PostgreSQL)."""

from __future__ import annotations

import pytest

from trialstreamer_spark.api import engine

from tests.oracle_util import assert_matches, run_oracle


@pytest.fixture(scope="session")
def tables(spark, fixture_dir):
    return engine.Tables(spark, fixture_dir)


def _expansion_sql(cui: str) -> str:
    return f"""
    SELECT DISTINCT descendant_cui AS cui FROM cui_closure
    WHERE ancestor_cui = '{cui}' AND depth <= 1
    UNION SELECT '{cui}'
    """


def test_subtree_expansion_matches_closure(tables, fixture_dir):
    cuis = engine.subtree_cuis(tables, "C0000001")
    want = {
        r[0] for r in run_oracle(_expansion_sql("C0000001"), fixture_dir).itertuples(
            index=False
        )
    }
    assert set(cuis) == want
    assert "C0000001" in cuis and len(cuis) > 1  # root has children


def test_picosearch_pubmed_leg_matches_sql(tables, fixture_dir):
    """Core picosearch semantics (cnxapp.py:188-219) vs DuckDB."""
    term_cui = "C0000001"
    df = (
        engine.picosearch(tables, [{"field": "population", "cui": term_cui}])
        .filter("article_type = 'journal article'")
        .select("pmid", "year", "score")
    )
    cuis = run_oracle(_expansion_sql(term_cui), fixture_dir)["cui"].tolist()
    in_list = ", ".join(f"'{c}'" for c in cuis)
    oracle = f"""
    SELECT pm.pmid, pm.year,
           CAST(pa.prob_low_rob AS DOUBLE) * pa.num_randomized AS score
    FROM pubmed pm JOIN pubmed_annotations pa USING (pmid)
    WHERE pm.is_rct_balanced AND pm.is_human
      AND len(list_filter(pa.population_mesh, x -> x.cui IN ({in_list}))) > 0
    ORDER BY score DESC NULLS LAST, pm.pmid
    LIMIT 250
    """
    assert_matches(df, oracle, fixture_dir, float_tol=1e-9)


def test_picosearch_terms_are_anded(tables):
    t1 = [{"field": "population", "cui": "C0000001"}]
    t2 = [{"field": "interventions", "cui": "C0000008"}]
    both = engine.picosearch(tables, t1 + t2).filter(
        "article_type = 'journal article'"
    )
    one = engine.picosearch(tables, t1).filter("article_type = 'journal article'")
    ids_both = {r.pmid for r in both.collect()}
    ids_one = {r.pmid for r in one.collect()}
    assert ids_both <= ids_one


def test_picosearch_expand_off_is_subset(tables):
    term = [{"field": "population", "cui": "C0000001"}]
    expanded = {
        r.pmid
        for r in engine.picosearch(tables, term, expand_terms=True)
        .filter("article_type='journal article'")
        .collect()
    }
    exact = {
        r.pmid
        for r in engine.picosearch(tables, term, expand_terms=False)
        .filter("article_type='journal article'")
        .collect()
    }
    assert exact <= expanded


def test_picosearch_covid_leg_trigger(tables):
    no_cov = engine.picosearch(tables, [{"field": "population", "cui": "C0000001"}])
    assert no_cov.filter("article_type = 'preprint'").count() == 0
    cov = engine.picosearch(
        tables, [{"field": "population", "cui": engine.COVID_CUI}]
    )
    assert cov.filter("article_type = 'preprint'").count() > 0


def test_picosearch_empty_terms(tables):
    assert engine.picosearch(tables, []).count() == 0


def test_covid19_matches_sql(tables, fixture_dir):
    df = engine.covid19(tables).select("id", "year", "result_set")
    oracle = """
    SELECT pm.pmid AS id, pm.year, 'trialstreamer_published' AS result_set
    FROM pubmed pm JOIN pubmed_annotations pa USING (pmid)
    WHERE pm.is_rct_balanced
      AND len(list_filter(pa.population_mesh, x -> x.mesh_ui = 'C000657245')) > 0
    UNION ALL
    SELECT doi AS id, year, 'trialstreamer_preprint' AS result_set
    FROM medrxiv_covid19 WHERE is_rct_balanced
    """
    assert_matches(df, oracle, fixture_dir)


def test_meta_matches_sql(tables, fixture_dir):
    df = engine.meta(tables)
    oracle = """
    SELECT strftime((SELECT MAX(download_date) FROM update_log
                     WHERE update_type = 'fullcheck'),
                    '%Y-%m-%d %H:%M:%S') AS last_updated,
           format('{:,}', (SELECT COUNT(*) FROM pubmed WHERE is_rct_balanced))
               AS num_rcts
    """
    assert_matches(df, oracle, fixture_dir)


def test_autocomplete_ranked(tables):
    rows = engine.autocomplete(tables, "dia").collect()
    assert len(rows) <= 5
    counts = [r["count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(r.cui_str.lower().startswith("dia") for r in rows)


def test_autocomplete_short_prefix_unranked(tables):
    rows = engine.autocomplete(tables, "di").collect()
    assert len(rows) <= 5


def test_get_trial_fallback(tables):
    assert engine.get_trial(tables, "10001").collect()[0].source_table == "pubmed"
    some_regid = tables.t("ictrp").select("regid").first().regid
    assert (
        engine.get_trial(tables, some_regid).collect()[0].source_table == "ictrp"
    )
    some_doi = tables.t("medrxiv_covid19").select("doi").first().doi
    assert (
        engine.get_trial(tables, some_doi).collect()[0].source_table == "medrxiv"
    )
    assert engine.get_trial(tables, "nonexistent-id").count() == 0


def test_year_counts_matches_sql(tables, fixture_dir):
    df = engine.year_counts(tables)
    oracle = """
    SELECT year,
           CAST(SUM(CASE WHEN is_rct_precise THEN 1 ELSE 0 END) AS BIGINT) AS count_rct_precise,
           CAST(SUM(CASE WHEN is_rct_balanced THEN 1 ELSE 0 END) AS BIGINT) AS count_rct_balanced,
           COUNT(*) AS count_rct_sensitive,
           CAST(SUM(CASE WHEN ptyp_rct = 1 THEN 1 ELSE 0 END) AS BIGINT) AS count_ptyp_rct,
           CAST(ROUND(COUNT(*) * (CAST(SUM(CAST(FLOOR(CAST(rct_probability AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
                                  / 1000000.0 / COUNT(*))) AS BIGINT) AS est_rct_count
    FROM pubmed WHERE year >= 1948
    GROUP BY year ORDER BY year
    """
    assert_matches(df, oracle, fixture_dir)


def test_rct_count(tables, fixture_dir):
    n = engine.rct_count(tables).collect()[0].count_rct_balanced
    want = run_oracle(
        "SELECT COUNT(*) FROM pubmed WHERE is_rct_balanced", fixture_dir
    ).iloc[0, 0]
    assert n == want


def test_registry_links_recoverable(tables, fixture_dir):
    """Pipeline J6: rebuilt links must cover every stored link whose
    regid appears in pm_data.registry_ids or the abstract regex."""
    built = engine.registry_links_build(tables)
    oracle = """
    SELECT DISTINCT regid, pmid FROM (
      SELECT pmid, unnest(list_concat(
        coalesce(pm_data.registry_ids, []),
        list_distinct(regexp_extract_all(coalesce(ab, ''),
          '(NCT\\d{8}|ISRCTN\\d{8}|ACTRN\\d{14}|ChiCTR\\d{10}|CTRI/\\d{4}/\\d{6})', 1)))) AS regid
      FROM pubmed
    ) WHERE regid IS NOT NULL AND regid <> ''
    """
    assert_matches(built.orderBy("regid", "pmid"), oracle + " ORDER BY regid, pmid", fixture_dir)
