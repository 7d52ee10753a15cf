"""Semantic invariants of the round-4 operators, checked on sf0.001 —
properties that must hold for ANY corpus, complementing the exact
oracle comparisons (which pin one corpus) with structural guarantees."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from trialstreamer_spark.io import load
from trialstreamer_spark.operators import packing, quality, textstats
from trialstreamer_spark.plans.all_queries import QUERIES


def test_cms_estimate_is_one_sided(spark, sf_dir):
    """Count-min error is strictly one-sided: estimate >= exact always."""
    df = QUERIES["cms_heavy_hitter_estimate"](spark, sf_dir)
    bad = df.filter(F.col("cms_n") < F.col("exact_n")).count()
    assert bad == 0


def test_funnel_stages_monotonically_shrink(spark, sf_dir):
    rows = {r["stage_idx"]: r["n_users"] for r in QUERIES[
        "funnel_conversion"](spark, sf_dir).collect()}
    assert rows[1] >= rows[2] >= rows[3]


def test_retention_week0_equals_cohort_size(spark, sf_dir):
    """Every user is active in their own first week, so the offset-0 cell
    of each cohort equals the cohort's size, and the matrix sums (over
    offset 0) to the distinct-user count."""
    e = load(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    m = QUERIES["retention_cohorts"](spark, sf_dir)
    week0 = (
        m.filter(F.col("week_offset") == 0)
        .agg(F.sum("n_active").alias("s"))
        .collect()[0]["s"]
    )
    assert week0 == n_users
    assert m.filter(F.col("week_offset") < 0).count() == 0


def test_histogram_quantiles_ordered_and_bounded(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    lo, hi = o.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    rows = {r["p"]: r["quantile_lower_bound"] for r in QUERIES[
        "histogram_quantiles"](spark, sf_dir).collect()}
    assert rows[50] <= rows[90] <= rows[99]
    assert rows[50] >= (lo // 1000) * 1000
    assert rows[99] <= hi


def test_minhash_estimate_within_unit_interval_and_candidates_only(spark, sf_dir):
    est = QUERIES["minhash_jaccard_estimate"](spark, sf_dir)
    assert est.filter(
        (F.col("est_jaccard") < 0) | (F.col("est_jaccard") > 1)
    ).count() == 0
    # every estimated pair is an LSH candidate pair (same band bucket →
    # at least 2/8 components agree → estimate >= 0.25)
    assert est.filter(F.col("est_jaccard") < 0.25).count() == 0


def test_incremental_dedup_covers_every_new_doc(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    n_new = d.filter(F.col("doc_id") % 10 == 0).count()
    out = QUERIES["dedup_incremental"](spark, sf_dir)
    assert out.count() == n_new
    assert out.select("doc_id").distinct().count() == n_new


def test_band_tuning_counts_consistent(spark, sf_dir):
    r = QUERIES["minhash_band_tuning"](spark, sf_dir).collect()[0]
    assert 0 <= r["n_hit"] <= min(r["n_candidates"], r["n_true"])
    if r["n_candidates"]:
        assert abs(r["precision"] - r["n_hit"] / r["n_candidates"]) < 1e-12
    if r["n_true"]:
        assert abs(r["recall"] - r["n_hit"] / r["n_true"]) < 1e-12


def test_band_tuning_is_lazy_and_plans_full_pipeline(spark, sf_dir):
    """The tuning query must stay LAZY: constructing it must not execute
    the dedup pipelines (the eager .head()+inline_rows regression), so
    its plan must contain the real tagged UNION of the candidate and
    truth arms (not a full-outer join) feeding the per-pair
    membership rollup, rather than a literal row."""
    df = QUERIES["minhash_band_tuning"](spark, sf_dir)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in p
    # both arms' real pipelines are in the plan (shingle featurization
    # reaches the scan), not a pre-computed literal
    assert "shingle" in p
    assert p.count("Aggregate") >= 2  # per-pair membership + final totals


def test_funnel_always_emits_three_stages(spark, sf_dir):
    """Even an empty stage emits its row (n_users=0) — the oracle's
    scalar subqueries always produce 3 rows."""
    df = QUERIES["funnel_conversion"](spark, sf_dir)
    assert df.count() == 3
    assert [r["stage_idx"] for r in df.collect()] == [1, 2, 3]


def test_sequence_packing_conserves_tokens_and_chunks(spark, sf_dir):
    """Shard rollups must conserve the corpus token count, and chunk/
    span counts obey the packing arithmetic for any corpus."""
    d = load(spark, sf_dir, "documents")
    total = (
        d.where(F.col("text").isNotNull())
        .select(F.size(textstats.tokens_col(F.col("text"))).alias("n"))
        .where(F.col("n") >= 1)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    rows = QUERIES["sequence_packing"](spark, sf_dir).collect()
    assert len(rows) <= packing.N_SHARDS
    assert sum(r["total_tokens"] for r in rows) == total
    for r in rows:
        assert r["n_chunks"] == -(-r["total_tokens"] // packing.CTX)
        # a doc can only span a boundary if there IS more than one chunk
        assert 0 <= r["n_span_docs"] <= max(r["n_chunks"] - 1, 0) or (
            r["n_span_docs"] <= r["n_docs"]
        )
        assert 0 < r["tail_fill"] <= 1.0


def test_mixture_weights_sum_to_one_and_dampen(spark, sf_dir):
    """Weights are a distribution, and sqrt dampening moves every source
    TOWARD the uniform weight relative to its raw share."""
    rows = QUERIES["mixture_weights"](spark, sf_dir).collect()
    assert abs(sum(r["samp_weight"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-9
    # weights reproduce exactly from the emitted integer token counts
    w_raw = {r["source"]: math.isqrt(r["n_tokens"]) for r in rows}
    denom = sum(w_raw.values())
    for r in rows:
        assert r["samp_weight"] == w_raw[r["source"]] / denom
    # dampening preserves the source ordering but compresses the spread:
    # the weight ratio between the largest and smallest source is the
    # sqrt of their token ratio (strictly closer to 1 when unequal)
    by_tokens = sorted(rows, key=lambda r: r["n_tokens"])
    assert by_tokens[0]["samp_weight"] <= by_tokens[-1]["samp_weight"]
    if by_tokens[0]["n_tokens"] < by_tokens[-1]["n_tokens"]:
        tok_ratio = by_tokens[-1]["n_tokens"] / by_tokens[0]["n_tokens"]
        w_ratio = by_tokens[-1]["samp_weight"] / by_tokens[0]["samp_weight"]
        assert w_ratio < tok_ratio


def test_hard_negatives_exclude_query_label(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    labels = {
        r["vec_id"]: r["label"]
        for r in e.filter(F.col("vec_id") < 5).collect()
    }
    out = QUERIES["hard_negative_mining"](spark, sf_dir).collect()
    per_q = {}
    for r in out:
        assert r["neighbor_label"] != labels[r["query_id"]]
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        # ranks are 1..k and cosine is non-increasing in rank
        assert [r["rank"] for r in sorted(rs, key=lambda x: x["rank"])] == list(
            range(1, len(rs) + 1)
        )
        cs = [r["cosine"] for r in sorted(rs, key=lambda x: x["rank"])]
        assert all(a >= b for a, b in zip(cs, cs[1:]))


def test_winnowing_density_bounds(spark, sf_dir):
    """Fingerprints per doc: at least one per run of w windows (the
    winnowing coverage guarantee) and never more than one per window."""
    rows = QUERIES["winnowing_stats"](spark, sf_dir).collect()
    assert rows, "fixture corpus must contain winnowable docs"
    for r in rows:
        assert r["n_windows"] == r["n_grams"] - (quality.WINNOW_W - 1)
        assert 1 <= r["n_fingerprints"] <= r["n_windows"]
        # every block of w consecutive windows selects >= 1 distinct
        # fingerprint => density >= 1/(2w) is a loose structural floor;
        # the tight guarantee is >= n_windows/w selections overall
        assert r["n_fingerprints"] >= -(-r["n_windows"] // (2 * quality.WINNOW_W))
