"""Dedup / similarity / textstats operators vs DuckDB oracle (sf0.001),
plus semantic sanity checks that don't depend on the oracle."""

from __future__ import annotations

import os

import pytest

import trialstreamer_spark.operators.dedup as dedup
import trialstreamer_spark.operators.similarity  # noqa: F401
import trialstreamer_spark.operators.textstats  # noqa: F401
import trialstreamer_spark.plans.relational  # noqa: F401  (registry fill)
from trialstreamer_spark.io import load
from trialstreamer_spark.plans.registry import ORACLES, QUERIES

from tests.oracle_util import assert_matches

OPERATOR_QUERIES = [
    "text_quality_stats",
    "lang_id",
    "doc_fingerprint",
    "token_count_by_lang",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_jaccard_capped",
    "dedup_simhash",
    "ann_cosine_topk",
    "lsh_bucket_stats",
    "vector_centroids",
    "dedup_embedding_cosine",
    "ann_ivf_topk",
    "topk_per_group",
    "match_rate_pivot",
    "dedup_apply_canonical",
    "price_quantiles",
    "langs_per_source",
    "heavy_hitter_tokens",
    "concept_match_greedy",
    "abbrev_pairs",
]


@pytest.mark.parametrize("name", OPERATOR_QUERIES)
def test_operator_matches_oracle(spark, sf_dir, name):
    assert name in ORACLES, f"{name} not registered with an oracle"
    assert_matches(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)


def test_jaccard_df_cap_bounds_hot_shingles(spark, tmp_path, monkeypatch):
    """A boilerplate shingle shared by N documents emits C(N,2) join rows
    uncapped; with df_cap the hot shingle is pruned before pairing (the
    capped_doc_lists sidecar's df filter, the prune every capped query
    runs) so the pair count stays bounded regardless of N — the property
    that keeps the postings join from going quadratic at 100 TB."""
    monkeypatch.setenv("SPARK_GRAFT_SIDECAR_DIR", str(tmp_path / "sc"))
    corpus = str(tmp_path / "corpus")
    n = 200
    spark.createDataFrame(
        [(i, f"alpha beta gamma u{i} v{i} w{i}") for i in range(n)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(os.path.join(corpus, "documents.parquet"))
    uncapped = dedup.jaccard_pairs(spark, corpus).count()
    assert uncapped == n * (n - 1) // 2  # every pair shares 'alpha beta gamma'
    capped = dedup.jaccard_pairs(spark, corpus, df_cap=5).count()
    assert capped == 0  # hot shingle pruned; remaining shingles are unique


def test_minhash_candidates_superset_of_high_jaccard(spark, sf_dir):
    """LSH with 4 bands x 2 rows catches near-identical docs: any pair
    with jaccard >= 0.9 must appear in the candidate set (probabilistic
    bound ~1-(1-.9^2)^4 = 99.97%; deterministic here since the corpus is
    fixed)."""
    high = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs(spark, sf_dir, threshold=0.9).collect()
    }
    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_candidates(spark, sf_dir).collect()
    }
    assert high <= cands


def test_simhash_range(spark, sf_dir):
    rows = QUERIES["dedup_simhash"](spark, sf_dir).collect()
    assert all(0 <= r.simhash < 2**16 for r in rows)
    assert len(rows) == load(spark, sf_dir, "documents").count()
