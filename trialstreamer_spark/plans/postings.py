"""Inverted postings physical design for concept search at 100 TB
(SURVEY §4: the replacement for Postgres's GIN ``@>`` indexes).

The parity path (`api/engine.terms_predicate`) evaluates
``exists(field_mesh, …)`` per row — a full scan of the flag-filtered
annotations. That is correct at any scale but reads every concept array.
The scale path materializes the explode ONCE:

    postings(cui, field, pmid)   — bucketed/partitioned by cui

and answers a conjunctive expanded-term query with:

1. per term: partition-pruned lookup of the expanded CUI list in its
   field — touches only the queried CUIs' buckets;
2. AND across terms as ONE aggregation: tag each term's hits with the
   term index, ``groupBy(pmid)`` counting distinct satisfied terms,
   keep rows satisfying all — one shuffle regardless of term count
   (chained semi-joins would be n shuffles);
3. semi-join the surviving pmids back to the (pmid-bucketed) article
   table.

Both paths return identical row sets (asserted in
tests/test_postings.py); the engine picks by table-size hint.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from trialstreamer_spark.schemas import PICO_FIELDS

#: Directory-level pruning granularity of the written postings table:
#: cui hash-shards become hive partitions, so a term lookup opens only
#: its CUIs' shard directories. Sized so each shard at 100 TB holds a
#: few files (shards ≫ this are fine too — the knob trades directory
#: count against pruning selectivity).
CUI_SHARDS = 16


def shard_of(cui: str, n_shards: int = CUI_SHARDS) -> int:
    """Driver-side shard of a CUI literal — MUST match cui_shard_col.
    md5-based so both sides are engine- and platform-stable."""
    return int(hashlib.md5(cui.encode()).hexdigest()[:4], 16) % n_shards


def cui_shard_col(cui: Column, n_shards: int = CUI_SHARDS) -> Column:
    """Executor-side shard expression (same md5 prefix as shard_of)."""
    return (
        F.conv(F.substring(F.md5(cui), 1, 4), 16, 10).cast("int")
        % n_shards
    )


def write_postings(
    postings: DataFrame, path: str, n_shards: int = CUI_SHARDS
) -> None:
    """Materialize the postings physical design: hive-partitioned by
    cui_shard (directory pruning on term lookups), one file per shard
    with rows sorted by cui (footer min/max tightening within a shard —
    the same measured effect as io.write_clustered). At 100 TB each
    shard is further split by the writer's max file size; the sort keeps
    each CUI's postings in a contiguous run of files."""
    (
        postings.withColumn("cui_shard", cui_shard_col(F.col("cui"), n_shards))
        .repartition(n_shards, F.col("cui_shard"))
        .sortWithinPartitions("cui", "field", "pmid")
        .write.partitionBy("cui_shard")
        .mode("overwrite")
        .parquet(path)
    )


def read_postings(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def postings_files_for(
    path: str, expanded_terms: list[dict], n_shards: int = CUI_SHARDS
) -> tuple[int, int]:
    """(files the pruned lookup touches, total data files) — the layout
    evidence used by tests; the planner itself relies on Catalyst's
    PartitionFilters doing the identical directory arithmetic."""
    shards = {
        shard_of(c, n_shards)
        for t in expanded_terms
        for c in t["cuis"]
    }
    touched = total = 0
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if not (d.startswith("cui_shard=") and os.path.isdir(full)):
            continue
        n = len([f for f in os.listdir(full) if f.endswith(".parquet")])
        total += n
        if int(d.split("=")[1]) in shards:
            touched += n
    return touched, total


def build_postings(annotations: DataFrame) -> DataFrame:
    """annotations → (cui, field, pmid) postings. One explode per PICO
    field, unioned; writers should ``.repartition("cui")`` +
    ``bucketBy/partitionBy`` on cui so term lookups prune files."""
    legs = [
        annotations.select(
            F.explode(F.col(f"{field}_mesh")).alias("m"),
            F.lit(field).alias("field"),
            "pmid",
        ).select(F.col("m.cui").alias("cui"), "field", "pmid")
        for field in PICO_FIELDS
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.distinct()


def matching_pmids(postings: DataFrame, expanded_terms: list[dict]) -> DataFrame:
    """Conjunctive match over the postings table.

    expanded_terms: [{"field": ..., "cuis": [...]}] — the ontology
    expansion already applied at query-build time (G1/G2), exactly as
    the exists() path bakes literals into the predicate.
    """
    if not expanded_terms:
        raise ValueError("No terms in the search")
    sharded = "cui_shard" in postings.columns
    legs = []
    for idx, term in enumerate(expanded_terms):
        pred = (F.col("field") == term["field"]) & F.col("cui").isin(
            list(term["cuis"])
        )
        if sharded:
            # shard predicate computed driver-side from the SAME hash:
            # lands in PartitionFilters → directory-level pruning before
            # any file is opened (asserted in tests/test_layout.py)
            pred = F.col("cui_shard").isin(
                sorted({shard_of(c) for c in term["cuis"]})
            ) & pred
        legs.append(
            postings.filter(pred).select("pmid", F.lit(idx).alias("term_idx"))
        )
    tagged = legs[0]
    for leg in legs[1:]:
        tagged = tagged.unionByName(leg)
    n = len(expanded_terms)
    return (
        tagged.groupBy("pmid")
        .agg(F.countDistinct("term_idx").alias("n_terms"))
        .filter(F.col("n_terms") == n)
        .select("pmid")
    )


def search_articles(
    articles: DataFrame, postings: DataFrame, expanded_terms: list[dict]
) -> DataFrame:
    """pmid semi-join back to the article table (both bucketed by pmid
    at scale → shuffle-free)."""
    return articles.join(
        matching_pmids(postings, expanded_terms), "pmid", "left_semi"
    )
