"""Semantic invariants for the round-6 operators (oracle parity is
covered by test_relational_oracle's full parameterization; these pin
the accounting properties a hash compare can't see)."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from tests.conftest import write_documents
from trialstreamer_spark.io import load
from trialstreamer_spark.operators import dedup, quality
from trialstreamer_spark.plans.all_queries import QUERIES
from trialstreamer_spark.util import evict_caches


def test_keep_best_quality_partitions_the_corpus(spark, sf_dir):
    """One kept doc per cluster; kept docs' cluster sizes sum to the
    corpus; the kept doc is the longest member (doc_id tiebreak)."""
    kept = QUERIES["dedup_keep_best_quality"](spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    assert len({r.component for r in kept}) == len(kept)
    assert sum(r.cluster_size for r in kept) == n_docs
    # independent argmax re-derivation over the raw sidecars
    members = (
        dedup.cc_labels(spark, sf_dir)
        .join(
            quality.quality_signals(spark, sf_dir).select("doc_id", "n_words"),
            "doc_id",
        )
        .collect()
    )
    best: dict[int, tuple[int, int]] = {}
    for m in members:
        cand = (-m.n_words, m.doc_id)
        if m.component not in best or cand < best[m.component]:
            best[m.component] = cand
    assert {(r.component, r.doc_id) for r in kept} == {
        (c, d) for c, (_negw, d) in best.items()
    }


def test_keep_best_quality_never_loses_content_vs_min_id(spark, sf_dir):
    """The policy's reason to exist: kept docs are at least as long as
    the min-id canonical choice for every cluster."""
    j = (
        dedup.cc_labels(spark, sf_dir)
        .join(
            quality.quality_signals(spark, sf_dir).select("doc_id", "n_words"),
            "doc_id",
        )
        .collect()
    )
    min_id_words = {}
    for m in j:
        if m.component not in min_id_words or m.doc_id < min_id_words[m.component][0]:
            min_id_words[m.component] = (m.doc_id, m.n_words)
    for r in QUERIES["dedup_keep_best_quality"](spark, sf_dir).collect():
        assert r.n_words >= min_id_words[r.component][1]


def test_token_tv_distance_bounds_and_coverage(spark, sf_dir):
    """TV is a metric on distributions: every unordered source pair
    appears exactly once, 0 <= tv <= 1, and tv = tv_num/(2·n_a·n_b)
    exactly."""
    rows = QUERIES["token_tv_distance_by_source"](spark, sf_dir).collect()
    sources = sorted(
        r.source
        for r in load(spark, sf_dir, "documents").select("source").distinct().collect()
    )
    expect = {(a, b) for a, b in itertools.combinations(sources, 2)}
    assert {(r.source_a, r.source_b) for r in rows} == expect
    for r in rows:
        assert 0 <= r.tv_num <= 2 * r.n_a * r.n_b
        assert r.tv == r.tv_num / (2.0 * r.n_a * r.n_b)


def test_token_tv_distance_zero_iff_identical_distribution(spark, tmp_path):
    """Exactness check against a hand-built corpus: an identical
    distribution pair gives tv_num = 0; disjoint vocabularies give
    tv = 1 exactly (the metric's extremes, unreachable by floats-only
    implementations)."""
    tmp = str(tmp_path)
    write_documents(
        tmp,
        [
            (0, "a b b", "s1"),
            (1, "b a b", "s2"),
            (2, "x y", "s3"),
            (3, "y x x y", "s3"),
        ],
    )
    evict_caches(tmp)
    out = {
        (r.source_a, r.source_b): r
        for r in QUERIES["token_tv_distance_by_source"](spark, tmp).collect()
    }
    assert out[("s1", "s2")].tv_num == 0 and out[("s1", "s2")].tv == 0.0
    assert out[("s1", "s3")].tv == 1.0 and out[("s2", "s3")].tv == 1.0


class TestRound6bOperators:
    """Round-6b batch-3 invariants: the properties the hash compare
    can't see."""

    def test_rolling_window_dominates_daily(self, spark, sf_dir):
        """Every 7-day rolling count >= that day's 1-day distinct count
        and <= total distinct users; windows exist exactly for observed
        days."""
        e = load(spark, sf_dir, "events")
        daily = {
            r.d: r.n
            for r in e.groupBy(
                F.unix_micros(F.date_trunc("day", "ts")).alias("d")
            )
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        total_users = e.select("user_id").distinct().count()
        rows = QUERIES["rolling_active_users"](spark, sf_dir).collect()
        assert {r.window_end_us for r in rows} == set(daily)
        for r in rows:
            assert daily[r.window_end_us] <= r.n_active_7d <= total_users

    def test_daily_drift_flags_match_float_ratio(self, spark, sf_dir):
        """The integer cross-multiplication flags agree with the naive
        float mean-ratio definition (away from exact boundaries)."""
        rows = QUERIES["daily_value_drift"](spark, sf_dir).collect()
        total = sum(r.day_cents for r in rows)
        n = sum(r.n_events for r in rows)
        gmean = total / n
        for r in rows:
            ratio = (r.day_cents / r.n_events) / gmean
            expect = "high" if ratio > 1.5 else ("low" if ratio < 0.5 else "normal")
            assert r.drift == expect, (r, ratio)

    def test_fertility_bounds(self, spark, sf_dir):
        """fertility >= 1 (every token is >= 1 subword unit) and
        chars_per_token consistent with n_chars/n_tokens."""
        for r in QUERIES["tokenizer_fertility_stats"](spark, sf_dir).collect():
            assert r.fertility_fp >= 1_000_000
            assert r.n_subword >= r.n_tokens
            assert r.chars_per_tok_fp == (1_000_000 * r.n_chars) // r.n_tokens

    def test_aspect_buckets_never_scan_content(self, spark, sf_dir):
        """The batching plan is metadata-only: the binary content column
        must be pruned from the scan (the prune-before-decode contract)."""
        df = QUERIES["multimodal_aspect_buckets"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "content" not in plan, plan
        n = df.agg(F.sum("n_images")).collect()[0][0]
        imgs = (
            load(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 3 == 0)
            .count()
        )
        assert n == imgs
