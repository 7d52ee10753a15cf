"""The trialstreamer query surface re-expressed as DataFrame plans.

Implements the reference API's five entry points (reference
trialstreamer/cnxapp.py) against typed parquet/Delta tables:

- picosearch     (cnxapp.py:169-324) — structured PICO concept search
                 with ontology expansion, three source legs, top-k.
- covid19        (cnxapp.py:126-154) — fixed COVID query, two legs.
- meta           (cnxapp.py:107-123) — watermark + RCT count.
- autocomplete   (cnxapp.py:74-104) — prefix → top-5 ranked suggestions.
- get_trial      (cnxapp.py:327-402) — pmid → regid → doi fallback probe.

Design notes (100 TB):
- The reference expands the query CUI set driver-side from an in-memory
  ontology DAG (cnxapp.py:53-62). Here the subtree comes from a closure
  table (ancestor, descendant, depth) — tiny, collected once and reused;
  the predicate is a Column tree over `exists(field_mesh, …)` so Catalyst
  sees one conjunctive filter and pushes the pubmed flag filters to the
  scan.
- At parity scale `exists()` over the concept arrays is a full scan of
  the (already flag-filtered) annotations. At 100 TB the same query is
  served by the inverted postings design in
  ``trialstreamer_spark.plans.postings`` (SURVEY §4): explode *_mesh into
  a (cui, field, pmid) table bucketed by cui, semi-join back. Both paths
  produce identical rows; pick by table-size hint.
- Joins broadcast the filtered annotation side (≤ a few % of pubmed
  after concept filtering); at scale both tables are bucketed by pmid so
  the join is shuffle-free either way.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

COVID_CUI = "TS-COV19"
COVID_MESH_UI = "C000657245"
RESULT_CAP = 250  # per source leg (cnxapp.py:217-219,262,290)


@dataclass
class Tables:
    """Handle to the engine's stored tables (parquet dir or registered
    views). One place to swap storage format."""

    spark: SparkSession
    root: str

    def t(self, name: str) -> DataFrame:
        # A pipeline-produced warehouse stores tables as ParquetTable
        # versioned dirs (<root>/<name>/_current pointer); fixtures use
        # plain <name>.parquet. Serve both so engine queries run against
        # either warehouse layout.
        versioned = os.path.join(self.root, name)
        if os.path.exists(os.path.join(versioned, "_current")):
            from trialstreamer_spark.operators.upsert import ParquetTable

            return ParquetTable(self.spark, versioned).read()
        return self.spark.read.parquet(os.path.join(self.root, f"{name}.parquet"))


def subtree_cuis(tables: Tables, cui: str, levels: int = 1) -> list[str]:
    """Subtree expansion via the closure table (ref cnxapp.py:53-62:
    direct successors for levels=1, self-inclusive). The closure is a
    dimension table — collected to the driver like the reference's
    pickled DAG; the result is baked into the predicate as literals."""
    rows = (
        tables.t("cui_closure")
        .filter(
            (F.col("ancestor_cui") == cui) & (F.col("depth") <= levels)
        )
        .select("descendant_cui")
        .collect()
    )
    out = {r.descendant_cui for r in rows}
    out.add(cui)
    return sorted(out)


def expand_query(
    tables: Tables, terms: list[dict], expand_terms: bool = True
) -> list[dict]:
    """Ontology-expand a term list into [{"field", "cuis"}] — the shared
    query representation both search paths consume (literals baked at
    query-build time, ref cnxapp.py:188-207)."""
    return [
        {
            "field": t["field"],
            "cuis": subtree_cuis(tables, t["cui"])
            if expand_terms
            else [t["cui"]],
        }
        for t in terms
    ]


def terms_predicate(
    tables: Tables, terms: list[dict], expand_terms: bool = True
) -> Column:
    """Build the conjunctive concept predicate (ref cnxapp.py:188-207):
    each term expands to an OR over its subtree CUIs within one
    `exists(field_mesh, x -> x.cui IN (…))`; terms are ANDed. Pure
    Column tree — no UDF, Catalyst folds the literal IN list."""
    conjuncts = []
    for term in expand_query(tables, terms, expand_terms):
        field_col = f"{term['field']}_mesh"
        cuis = term["cuis"]
        conjuncts.append(
            F.exists(F.col(field_col), lambda x: x["cui"].isin(cuis))
        )
    return reduce(lambda a, b: a & b, conjuncts)


#: exists()-scan vs postings-path crossover (bytes of the annotations
#: table, from catalog file stats — no data scan). Below it, one pass
#: over a small table beats maintaining/probing an index; above it the
#: postings path touches only the queried CUIs' shard directories while
#: the scan cost keeps growing linearly. The default approximates where
#: the scan stops fitting one executor's second of work.
POSTINGS_MIN_BYTES = 64 * 1024 * 1024

POSTINGS_DIR = "postings_cui"


def _table_bytes(tables: Tables, name: str) -> int:
    """On-disk size of a stored table — the catalog statistic the path
    choice reads (Delta/Iceberg expose the same number from metadata)."""
    versioned = os.path.join(tables.root, name)
    if os.path.exists(os.path.join(versioned, "_current")):
        from trialstreamer_spark.operators.upsert import ParquetTable

        t = ParquetTable(tables.spark, versioned)
        cur = t.current_version()
        base = os.path.join(versioned, cur) if cur else versioned
    else:
        base = os.path.join(tables.root, f"{name}.parquet")
    total = 0
    for dirpath, _dirs, files in os.walk(base):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def prepare_postings(tables: Tables) -> str:
    """Offline index build: explode the annotations into the sharded
    postings layout (plans/postings.write_postings), stamped with the
    annotations version it was built from (sidecars.write_stamp) so a
    later merge/overwrite can't silently serve a stale index
    (choose_search_path checks the stamp). A current index is kept, not
    rebuilt; returns the postings path."""
    from trialstreamer_spark.plans import postings as P
    from trialstreamer_spark.sidecars import (
        corpus_fingerprint,
        stamp_current,
        write_stamp,
    )

    out = os.path.join(tables.root, POSTINGS_DIR)
    fp = corpus_fingerprint(tables.root, ("pubmed_annotations",))
    if not stamp_current(out, fp):
        P.write_postings(P.build_postings(tables.t("pubmed_annotations")), out)
        write_stamp(out, fp)
    return out


def choose_search_path(
    tables: Tables, min_bytes: int = POSTINGS_MIN_BYTES
) -> str:
    """'scan' or 'postings', decided from catalog stats: the postings
    path is chosen iff the index carries a stamp matching the CURRENT
    annotations table (a missing, unstamped or stale-stamped index —
    e.g. after a merge/overwrite without a prepare_postings rebuild —
    falls back to the always-correct scan), AND the annotations table
    has outgrown the scan crossover. Never scans data to decide."""
    from trialstreamer_spark.sidecars import corpus_fingerprint, stamp_current

    post_dir = os.path.join(tables.root, POSTINGS_DIR)
    fp = corpus_fingerprint(tables.root, ("pubmed_annotations",))
    if not stamp_current(post_dir, fp):
        return "scan"
    if _table_bytes(tables, "pubmed_annotations") < min_bytes:
        return "scan"
    return "postings"


def _cite(authors: Column, journal: Column, year: Column) -> Column:
    """Citation string (ref cnxapp.py:157-161): 'Last et al., Journal.
    Year' — first author's LastName, 'et al.' iff >1 author."""
    first_last = F.element_at(authors, 1)["LastName"]
    suffix = F.when(F.size(authors) > 1, F.lit(" et al.")).otherwise(F.lit(""))
    with_authors = F.concat(
        first_last, suffix, F.lit(", "), journal, F.lit(". "), year.cast("string")
    )
    return F.when(
        F.coalesce(F.size(authors), F.lit(0)) >= 1, with_authors
    ).otherwise(F.concat(journal, F.lit(". "), year.cast("string")))


def picosearch(
    tables: Tables,
    terms: list[dict],
    order: str = "score",
    expand_terms: bool = True,
    path: str = "auto",
) -> DataFrame:
    """Structured PICO search, json-short retmode (cnxapp.py:169-324).

    Returns the union of three tagged legs (pubmed / ictrp / covid
    preprints), each capped at 250. Divergence from the reference,
    declared per SURVEY §7.4: every leg carries a deterministic
    tiebreaker (pmid / regid / doi) so top-k sets are stable under ties —
    the reference's bare LIMIT is nondeterministic.

    ``path``: 'scan' (exists() over the concept arrays), 'postings'
    (shard-pruned inverted-index lookup + pmid semi-join — requires
    prepare_postings), or 'auto' (choose_search_path from catalog
    stats). Both paths return identical rows (tests/test_postings.py);
    only the pubmed leg has a postings index — the small ictrp/preprint
    dimension legs always scan."""
    assert order in ("year", "score")
    assert path in ("auto", "scan", "postings")
    if not terms:
        return tables.spark.createDataFrame(
            [], "pmid string, ti string, year int, article_type string"
        )
    pred = terms_predicate(tables, terms, expand_terms)

    pm = tables.t("pubmed").filter(
        F.col("is_rct_balanced") & F.col("is_human")
    )
    if path == "auto":
        path = choose_search_path(tables)
    if path == "postings":
        from trialstreamer_spark.plans import postings as P

        post = P.read_postings(
            tables.spark, os.path.join(tables.root, POSTINGS_DIR)
        )
        pa = tables.t("pubmed_annotations").join(
            P.matching_pmids(post, expand_query(tables, terms, expand_terms)),
            "pmid",
            "left_semi",
        )
    else:
        pa = tables.t("pubmed_annotations").filter(pred)
    score = F.col("prob_low_rob") * F.col("num_randomized")
    joined = pm.join(F.broadcast(pa), "pmid").select(
        "pmid",
        "ti",
        "ab",
        "year",
        F.col("pm_data.journal").alias("journal"),
        "punchline_text",
        _cite(
            F.col("pm_data.authors"), F.col("pm_data.journal"), F.col("year")
        ).alias("citation"),
        "population",
        "interventions",
        "outcomes",
        F.col("pm_data.dois").alias("dois"),
        "prob_low_rob",
        "num_randomized",
        score.alias("score"),
        F.lit("journal article").alias("article_type"),
    )
    order_col = F.col("score") if order == "score" else F.col("year")
    pubmed_leg = joined.orderBy(
        order_col.desc_nulls_last(), F.col("pmid")
    ).limit(RESULT_CAP)

    ictrp_leg = (
        tables.t("ictrp")
        .filter(pred & (F.col("is_rct") == "RCT"))
        .select(
            F.col("regid").alias("pmid"),
            "ti",
            F.lit(None).cast("string").alias("ab"),
            "year",
            F.lit(None).cast("string").alias("journal"),
            F.lit(None).cast("string").alias("punchline_text"),
            F.lit(None).cast("string").alias("citation"),
            "population",
            "interventions",
            "outcomes",
            F.lit(None).cast("array<string>").alias("dois"),
            F.lit(None).cast("float").alias("prob_low_rob"),
            F.lit(None).cast("int").alias("num_randomized"),
            F.lit(None).cast("double").alias("score"),
            F.lit("trial registration").alias("article_type"),
        )
        .orderBy("pmid")
        .limit(RESULT_CAP)
    )

    legs = pubmed_leg.unionByName(ictrp_leg)

    # COVID preprint leg triggers on the RAW query terms (not expansion):
    # cnxapp.py:284
    if any(t["cui"] == COVID_CUI and t["field"] == "population" for t in terms):
        cov = (
            tables.t("medrxiv_covid19")
            .filter(pred & F.col("is_rct_balanced") & F.col("is_human"))
            .select(
                F.col("doi").alias("pmid"),
                "ti",
                "ab",
                "year",
                F.col("source").alias("journal"),
                "punchline_text",
                F.concat(
                    F.element_at(F.col("authors"), 1)["author_name"],
                    F.when(F.size("authors") > 1, F.lit(" et al.")).otherwise(
                        F.lit("")
                    ),
                    F.lit(", "),
                    F.col("source"),
                    F.lit(". "),
                    F.col("year").cast("string"),
                ).alias("citation"),
                "population",
                "interventions",
                "outcomes",
                F.array(F.col("doi")).alias("dois"),
                F.col("prob_low_bias").alias("prob_low_rob"),
                "num_randomized",
                F.lit(None).cast("double").alias("score"),
                F.lit("preprint").alias("article_type"),
            )
            .orderBy("pmid")
            .limit(RESULT_CAP)
        )
        legs = legs.unionByName(cov)
    return legs


def covid19(tables: Tables) -> DataFrame:
    """Fixed COVID query (cnxapp.py:126-154): pubmed leg matches
    population_mesh on the mesh_ui key (literal containment), preprint
    leg is medrxiv where is_rct_balanced. Tagged union instead of the
    reference's keyed dict — same rows."""
    pa = tables.t("pubmed_annotations").filter(
        F.exists(
            F.col("population_mesh"), lambda x: x["mesh_ui"] == COVID_MESH_UI
        )
    )
    pm = tables.t("pubmed").filter(F.col("is_rct_balanced"))
    published = pm.join(F.broadcast(pa), "pmid").select(
        F.col("pmid").alias("id"),
        "ti",
        "year",
        "punchline_text",
        "num_randomized",
        F.lit("trialstreamer_published").alias("result_set"),
    )
    preprints = (
        tables.t("medrxiv_covid19")
        .filter(F.col("is_rct_balanced"))
        .select(
            F.col("doi").alias("id"),
            "ti",
            "year",
            "punchline_text",
            "num_randomized",
            F.lit("trialstreamer_preprint").alias("result_set"),
        )
    )
    return published.unionByName(preprints)


def meta(tables: Tables) -> DataFrame:
    """Watermark + corpus size (cnxapp.py:107-123): latest download_date
    where update_type='fullcheck' (the end-of-run audit row, exactly the
    reference's watermark read at cnxapp.py:117) and count of balanced
    RCTs. One row."""
    last = (
        tables.t("update_log")
        .filter(F.col("update_type") == "fullcheck")
        .agg(F.max("download_date").alias("last_updated"))
    )
    count = (
        tables.t("pubmed")
        .filter(F.col("is_rct_balanced"))
        .agg(F.count("*").alias("num_rcts"))
    )
    return last.crossJoin(count).select(
        F.date_format("last_updated", "yyyy-MM-dd HH:mm:ss").alias("last_updated"),
        F.format_number(F.col("num_rcts"), 0).alias("num_rcts"),
    )


def autocomplete(tables: Tables, q: str) -> DataFrame:
    """Prefix autocomplete (cnxapp.py:74-104): <3 chars → first 5 by
    prefix order (unranked); ≥3 chars → dedupe on cui_pico_display,
    rank by count desc, top 5. Served from the precomputed suggestion
    table (the batch analog of the reference's pickled trie); at scale
    the table is range-partitioned on the string so the startswith
    filter prunes files."""
    from pyspark.sql import Window as W

    s = tables.t("autocomplete_suggestions").filter(
        F.lower(F.col("cui_str")).startswith(q.lower())
    )
    # deterministic dedupe: per display string keep the highest-count
    # (cui as tiebreaker) row — dropDuplicates picks an arbitrary
    # survivor, which made repeated queries disagree
    w = W.partitionBy("cui_pico_display").orderBy(
        F.col("count").desc(), F.col("cui")
    )
    s = s.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")
    if len(q) < 3:
        # short queries: first 5 in prefix (cui_str) order — the
        # reference's trie iteration order (cnxapp.py:95-99)
        return s.orderBy("cui_str", "cui_pico_display").limit(5)
    return s.orderBy(F.col("count").desc(), F.col("cui_pico_display")).limit(5)


def get_trial(tables: Tables, uuid: str) -> DataFrame:
    """Existence probe with fallback (cnxapp.py:327-402): pubmed by
    pmid, else ictrp by regid, else medrxiv by doi (with '-'→'/'
    unescape on the last segment). Three pruned point lookups unioned;
    at most one leg returns rows — equivalent to the reference's
    sequential probing but a single Spark job."""
    pm = (
        tables.t("pubmed")
        .filter(F.col("pmid") == uuid)
        .select(
            F.col("pmid").alias("id"), "ti", "year", F.lit("pubmed").alias("source_table")
        )
    )
    ic = (
        tables.t("ictrp")
        .filter(F.col("regid") == uuid)
        .select(
            F.col("regid").alias("id"), "ti", "year", F.lit("ictrp").alias("source_table")
        )
    )
    doi = uuid.replace("-", "/") if "-" in uuid and "/" not in uuid else uuid
    mx = (
        tables.t("medrxiv_covid19")
        .filter((F.col("doi") == uuid) | (F.col("doi") == doi))
        .select(
            F.col("doi").alias("id"), "ti", "year", F.lit("medrxiv").alias("source_table")
        )
    )
    return pm.unionByName(ic).unionByName(mx)


def year_counts(tables: Tables) -> DataFrame:
    """The pubmed_year_counts materialized view (ref dbutil.py:179-186):
    per-year conditional counts + estimated RCT count, year >= 1948.
    Recomputed in-pipeline after each ingest batch (ref pubmed.py:163-167
    refresh). round(count*avg) is reproduced with an exact integer/1e6
    fixed-point mean so the estimate is engine-portable."""
    pm = tables.t("pubmed").filter(F.col("year") >= 1948)
    prob_fp = F.floor(F.col("rct_probability").cast("double") * 1_000_000).cast(
        "long"
    )
    return (
        pm.groupBy("year")
        .agg(
            F.sum(F.when(F.col("is_rct_precise"), 1).otherwise(0)).alias(
                "count_rct_precise"
            ),
            F.sum(F.when(F.col("is_rct_balanced"), 1).otherwise(0)).alias(
                "count_rct_balanced"
            ),
            F.count("*").alias("count_rct_sensitive"),
            F.sum(F.when(F.col("ptyp_rct") == 1, 1).otherwise(0)).alias(
                "count_ptyp_rct"
            ),
            F.round(F.count("*") * (F.sum(prob_fp) / 1_000_000.0 / F.count("*")))
            .cast("long")
            .alias("est_rct_count"),
        )
        .orderBy("year")
    )


def rct_count(tables: Tables) -> DataFrame:
    """pubmed_rct_count matview (ref dbutil.py:188): single-row count."""
    return (
        tables.t("pubmed")
        .filter(F.col("is_rct_balanced"))
        .agg(F.count("*").alias("count_rct_balanced"))
    )


def registry_links_build(tables: Tables) -> DataFrame:
    """Rebuild the article↔registration link table (ref
    ictrp.py:386-419): per article, union of pm_data.registry_ids and
    registry-ID regex hits in the abstract, exploded to (pmid, regid)
    rows. Narrow ops only — regex+explode happen scan-side."""
    regex = (
        r"(NCT\d{8}|ISRCTN\d{8}|ACTRN\d{14}|ChiCTR\d{10}|CTRI/\d{4}/\d{6})"
    )
    pm = tables.t("pubmed")
    ids = F.array_union(
        F.coalesce(F.col("pm_data.registry_ids"), F.array()),
        F.coalesce(
            F.array_distinct(F.regexp_extract_all(F.col("ab"), F.lit(regex), 1)),
            F.array(),
        ),
    )
    return (
        pm.select("pmid", F.explode(ids).alias("regid"))
        .select("regid", "pmid")
        .distinct()
    )


def with_abbreviations(results: DataFrame, text_col: str = "ab") -> DataFrame:
    """json-short retmode enrichment (cnxapp.py:245): per-result
    Schwartz-Hearst abbreviation dict, computed from the abstract. The
    reference runs this driver-side per row at query time; here it is an
    Arrow-batched pandas UDF over the ≤750-row result set — same
    algorithm (functions.text), distributed."""
    from trialstreamer_spark.functions.text import abbreviations_udf

    return results.withColumn("abbrev_dict", abbreviations_udf(F.col(text_col)))


def picosearch_ris(
    tables: Tables,
    terms: list[dict],
    order: str = "score",
    expand_terms: bool = True,
) -> str:
    """ris retmode (cnxapp.py:315-324): the capped result set serialized
    to RIS text driver-side via sources.ris.dumps — TY/DB/ID/TI/YR/JO/AB
    tags as the reference emits them."""
    from trialstreamer_spark.sources.ris import dumps

    rows = (
        picosearch(tables, terms, order, expand_terms)
        .select("pmid", "year", "ti", "ab", "journal")
        .collect()
    )
    records = [
        {
            "TY": "JOUR",
            "DB": "Trialstreamer",
            "ID": r.pmid,
            "TI": r.ti,
            "YR": r.year,
            "JO": r.journal,
            "AB": r.ab,
        }
        for r in rows
    ]
    return dumps(records)


def export_articles(tables: Tables, threshold: str = "balanced") -> DataFrame:
    """Bulk dataset export (ref trialstreamer/docs.py:11-17
    iter_pubmed): all articles passing the chosen RCT threshold, with
    the full typed pm_data record — the robotdata feed, as a DataFrame
    instead of a driver-side generator."""
    flag = f"is_rct_{threshold}"
    if flag not in ("is_rct_precise", "is_rct_balanced", "is_rct_sensitive"):
        raise ValueError(f"unknown threshold {threshold!r}")
    return tables.t("pubmed").filter(F.col(flag)).select("pmid", "ti", "ab", "year", "pm_data")
