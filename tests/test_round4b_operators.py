"""Oracle + semantic-invariant tests for the round-4b operators:
semantic_dedup, pq_codes, dsir_importance_weights,
winnowing_overlap_pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trialstreamer_spark.operators.clustering import K_CLUSTERS, PQ_K, PQ_M
from trialstreamer_spark.operators.quality import (
    WINNOW_MIN_SHARED,
)
from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES

from tests.oracle_util import assert_matches

NEW_QUERIES = [
    "semantic_dedup",
    "pq_codes",
    "dsir_importance_weights",
    "winnowing_overlap_pairs",
    "ivfpq_topk",
    "chunk_dedup_stats",
    "shipping_priority_topk",
    "knn_graph_topk",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_round4b_matches_oracle(spark, sf_dir, name):
    assert name in ORACLES, f"{name} not registered with an oracle"
    assert_matches(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)


def test_semantic_dedup_accounting(spark, sf_dir):
    rows = QUERIES["semantic_dedup"](spark, sf_dir).collect()
    n_vecs = sum(r.n_vectors for r in rows)
    from trialstreamer_spark.io import load

    assert n_vecs == load(spark, sf_dir, "embeddings").count()
    assert len(rows) <= K_CLUSTERS
    for r in rows:
        # every pair contributes exactly one pruned candidate (its higher
        # id), so distinct-pruned can never exceed the pair count ...
        assert 0 <= r.n_pruned <= r.n_dup_pairs
        # ... and the lowest-id member of any dup pair survives, so a
        # cluster is never pruned to empty
        assert 0 < r.keep_frac <= 1.0
        assert r.n_pruned < r.n_vectors


def test_pq_codes_seed_vectors_reconstruct_exactly(spark, sf_dir):
    df = QUERIES["pq_codes"](spark, sf_dir)
    rows = {r.vec_id: r for r in df.collect()}
    code_cols = [f"code_{s}" for s in range(PQ_M)]
    for vid, r in rows.items():
        for c in code_cols:
            assert 0 <= r[c] < PQ_K
        assert r.recon_dist_fp >= 0
    # a seed vector's every slice IS sub-centroid vec_id, distance 0
    for vid in range(PQ_K):
        r = rows[vid]
        assert r.recon_dist_fp == 0
        for c in code_cols:
            assert r[c] == vid


def test_dsir_target_language_scores_higher(spark, sf_dir):
    """The importance weight must rank the target (en) population above
    the rest on average — the whole point of the operator. Deterministic
    data + deterministic arithmetic ⇒ a stable assertion, not a flake."""
    df = QUERIES["dsir_importance_weights"](spark, sf_dir).withColumn(
        "rate", F.col("score_fp") / F.col("n_bigrams")
    )
    means = {
        r["is_en"]: r["m"]
        for r in df.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("rate").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_dsir_bigram_counts_agree_with_repetition_stats(spark, sf_dir):
    """Cross-operator invariant: both operators count the same bigrams
    (same regex extraction), so per-doc n_bigrams must agree exactly."""
    a = QUERIES["dsir_importance_weights"](spark, sf_dir).select(
        "doc_id", "n_bigrams"
    )
    b = QUERIES["quality_repetition_stats"](spark, sf_dir).select(
        "doc_id", F.col("n_bigrams").alias("n_b2")
    )
    diff = a.join(b, "doc_id").where(F.col("n_bigrams") != F.col("n_b2"))
    assert diff.count() == 0


def test_winnowing_overlap_pairs_bounds(spark, sf_dir):
    rows = QUERIES["winnowing_overlap_pairs"](spark, sf_dir).collect()
    assert rows, "planted near-dups should yield at least one pair"
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.n_shared >= WINNOW_MIN_SHARED
        assert 0.0 < r.overlap_frac <= 1.0


def test_winnowing_pairs_catch_ngram_jaccard_dups(spark, sf_dir):
    """Docs flagged as near-identical by exact 3-gram Jaccard (>=0.8)
    share ≥6-token runs by construction, so winnowing's guarantee says
    they must also surface as fingerprint-overlap candidates."""
    strong = (
        QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
        .where(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b")
    )
    winnow = QUERIES["winnowing_overlap_pairs"](spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    missing = strong.join(winnow, ["doc_a", "doc_b"], "left_anti")
    assert missing.count() == 0


def test_ivfpq_adc_agrees_with_codes_and_lut(spark, sf_dir):
    """Cross-check the JVM element_at arithmetic against a driver-side
    numpy recomputation from pq_codes + the ADC LUT."""
    import numpy as np

    from trialstreamer_spark.operators.clustering import (
        _adc_lut,
        seed_centroids,
    )
    from trialstreamer_spark.operators.similarity import _query_vector

    qvec = _query_vector(spark, sf_dir, 0)
    lut = _adc_lut(qvec, seed_centroids(spark, sf_dir, k=PQ_K))
    codes = {
        r.vec_id: [r[f"code_{s}"] for s in range(PQ_M)]
        for r in QUERIES["pq_codes"](spark, sf_dir).collect()
    }
    rows = QUERIES["ivfpq_topk"](spark, sf_dir).collect()
    assert len(rows) == 10
    prev = None
    for r in rows:
        assert r.neighbor_id != 0
        expect = int(
            np.sum([lut[s][codes[r.neighbor_id][s]] for s in range(PQ_M)])
        )
        assert r.adc_dist_fp == expect
        if prev is not None:
            assert r.adc_dist_fp >= prev
        prev = r.adc_dist_fp


def test_ivfpq_candidates_come_only_from_probed_cells(spark, sf_dir):
    from trialstreamer_spark.operators.similarity import (
        _query_vector,
        ivf_centroids,
        ivf_probe_cells,
    )

    qvec = _query_vector(spark, sf_dir, 0)
    cells = set(ivf_probe_cells(ivf_centroids(spark, sf_dir), qvec, nprobe=2))
    for r in QUERIES["ivfpq_topk"](spark, sf_dir).collect():
        assert r.label in cells


def test_chunk_dedup_bounds_and_counts_agree_with_doc_chunks(spark, sf_dir):
    rows = QUERIES["chunk_dedup_stats"](spark, sf_dir).collect()
    assert any(r.n_dup_chunks > 0 for r in rows), (
        "planted near-dups should share at least one chunk"
    )
    for r in rows:
        assert 0 <= r.n_dup_chunks <= r.n_chunks
        assert 0.0 <= r.dup_chunk_frac <= 1.0
    # both operators chunk identically, so per-doc counts must agree
    per_doc = {
        r.doc_id: r.n
        for r in QUERIES["doc_chunks"](spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n_chunks == per_doc[r.doc_id]


def test_knn_graph_edges_are_symmetric_candidates_and_ranked(spark, sf_dir):
    rows = QUERIES["knn_graph_topk"](spark, sf_dir).collect()
    assert rows
    by_src = {}
    for r in rows:
        assert r.src_id != r.dst_id
        by_src.setdefault(r.src_id, []).append(r)
    for src, edges in by_src.items():
        assert len(edges) <= 3
        ranks = [e.rank for e in edges]
        assert ranks == list(range(1, len(edges) + 1))
        cosines = [e.cosine for e in edges]
        assert cosines == sorted(cosines, reverse=True)


def test_shipping_priority_revenue_positive_and_bounded(spark, sf_dir):
    rows = QUERIES["shipping_priority_topk"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 10
    revs = [r.revenue_cents for r in rows]
    assert revs == sorted(revs, reverse=True)
    for r in rows:
        assert r.revenue_cents > 0


def test_bloom_matches_oracle(spark, sf_dir):
    assert_matches(
        QUERIES["bloom_decontaminate_stats"](spark, sf_dir),
        ORACLES["bloom_decontaminate_stats"],
        sf_dir,
    )


def test_bloom_has_no_false_negatives_and_bounded_fp_rate(spark, sf_dir):
    """A Bloom filter may over-approximate but NEVER under-approximate:
    every true member must be a bloom hit."""
    rows = QUERIES["bloom_decontaminate_stats"](spark, sf_dir).collect()
    assert rows
    assert any(r.n_bloom_hits > 0 for r in rows), (
        "filter sized to exercise the hit path"
    )
    for r in rows:
        assert r.n_bloom_hits >= r.n_true_members
        # hits ⊇ members (no false negatives), so the fp count is
        # exactly hits minus members — assert the identity directly.
        assert r.n_false_positives == r.n_bloom_hits - r.n_true_members
        assert 0.0 <= r.fp_rate <= 1.0


def test_ivfpq_search_plan_is_jvm_only_with_no_shuffle(spark, sf_dir):
    """The IVFPQ claim made in SCALE.md, asserted on the physical plan:
    after the code-table sidecar is built, the search contains no
    Python evaluation (codes scored via literal-array element_at), no
    join, and no exchange before the top-k."""
    from trialstreamer_spark.operators.clustering import pq_codes_table

    pq_codes_table(spark, sf_dir).count()  # sidecar built (offline stage)
    plan = (
        QUERIES["ivfpq_topk"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the cached code table's stored BUILD plan (one offline Arrow pass)
    # prints below its InMemoryTableScan; the live search path is
    # everything above the cache scan
    search_path = plan.split("InMemoryTableScan")[0]
    for forbidden in ("ArrowEvalPython", "BatchEvalPython", "Join", "Exchange"):
        assert forbidden not in search_path, (
            f"{forbidden} in IVFPQ search path:\n{search_path}"
        )
    assert "TakeOrderedAndProject" in search_path


def test_frame_features_match_oracle_and_cover_all_videos(spark, sf_dir):
    from trialstreamer_spark.io import load

    assert_matches(
        QUERIES["multimodal_frame_features"](spark, sf_dir),
        ORACLES["multimodal_frame_features"],
        sf_dir,
    )
    rows = QUERIES["multimodal_frame_features"](spark, sf_dir).collect()
    media_ids = {r.media_id for r in rows}
    d = load(spark, sf_dir, "documents")
    videos = {r.doc_id for r in d.where(F.col("doc_id") % 3 == 2).collect()}
    assert media_ids == videos  # every video sampled at least once
    for r in rows:
        assert r.frame_ts_ms % 1000 == 0
        assert 0.0 <= r.f0 <= 1.0


def test_resize_images_byte_geometry_contract(spark, sf_dir):
    from trialstreamer_spark.io import load
    from trialstreamer_spark.operators.multimodal import (
        resize_images,
        synthesize_media,
    )

    media = synthesize_media(load(spark, sf_dir, "documents"))
    out = resize_images(media, width=32, height=16).collect()
    assert out
    n_images = media.where(F.col("modality") == "image").count()
    assert len(out) == n_images
    for r in out:
        assert r.n_bytes_out == 32 * 16
        assert len(r.content) == 32 * 16


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting is physical routing only — the salted plan's result must
    be IDENTICAL to the plain join the oracle runs."""
    assert_matches(
        QUERIES["salted_skew_join_totals"](spark, sf_dir),
        ORACLES["salted_skew_join_totals"],
        sf_dir,
    )
    # and the salted plan really joins on the composite (key, salt):
    from trialstreamer_spark.plans.relational import SKEW_SALT

    plan = (
        QUERIES["salted_skew_join_totals"](spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "salt" in plan
    rows = QUERIES["salted_skew_join_totals"](spark, sf_dir).collect()
    assert rows
    assert all(r.n_events > 0 for r in rows)


def test_stream_static_join_parity_matches_batch(spark, sf_dir):
    assert_matches(
        QUERIES["stream_static_join_parity"](spark, sf_dir),
        ORACLES["stream_static_join_parity"],
        sf_dir,
    )


def test_stream_stream_join_parity_matches_batch(spark, sf_dir):
    assert_matches(
        QUERIES["stream_stream_join_parity"](spark, sf_dir),
        ORACLES["stream_stream_join_parity"],
        sf_dir,
    )
    for r in QUERIES["stream_stream_join_parity"](spark, sf_dir).collect():
        assert 0 <= r.click_us - r.view_us <= 10 * 60 * 1_000_000


def test_kmeans_lloyd2_matches_oracle_and_improves_fit(spark, sf_dir):
    assert_matches(
        QUERIES["kmeans_lloyd2"](spark, sf_dir),
        ORACLES["kmeans_lloyd2"],
        sf_dir,
    )
    # Lloyd's guarantee: total within-cluster distance never increases
    # between the seed assignment and the post-update reassignment
    d1 = sum(
        r.dist_fp for r in QUERIES["kmeans_assign"](spark, sf_dir).collect()
    )
    d2 = sum(
        r.dist_fp for r in QUERIES["kmeans_lloyd2"](spark, sf_dir).collect()
    )
    assert d2 <= d1


def test_linear_probe_distinct_sketch_bounds(spark, sf_dir):
    assert_matches(
        QUERIES["linear_probe_distinct"](spark, sf_dir),
        ORACLES["linear_probe_distinct"],
        sf_dir,
    )
    import math

    for r in QUERIES["linear_probe_distinct"](spark, sf_dir).collect():
        # occupancy can never exceed the bitmap or the true cardinality
        assert 0 < r.n_occupied <= min(r.m, r.n_distinct)
        # the linear-counting estimate lands within 15% of truth at the
        # fixture's load factor (deterministic data => stable assertion)
        est = -r.m * math.log(1 - r.n_occupied / r.m)
        assert abs(est - r.n_distinct) / r.n_distinct < 0.15


@pytest.mark.parametrize(
    "name",
    ["substring_dup_coverage", "quality_budget_selection", "embedding_dim_stats"],
)
def test_round4c_matches_oracle(spark, sf_dir, name):
    assert name in ORACLES, f"{name} not registered with an oracle"
    assert_matches(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)


def test_substring_dup_coverage_invariants(spark, sf_dir):
    from trialstreamer_spark.operators.quality import SPAN_K

    rows = QUERIES["substring_dup_coverage"](spark, sf_dir).collect()
    assert rows, "non-empty corpus must produce rows"
    for r in rows:
        # window count is exactly the sliding count for the doc length
        assert r.n_windows == max(r.n_tokens - SPAN_K + 1, 0)
        assert 0 <= r.n_dup_windows <= r.n_windows
        # interval-union coverage is bounded by both the token count and
        # the max possible span of the duplicated windows
        assert r.n_cov_tokens <= min(r.n_tokens, r.n_dup_windows * SPAN_K)
        # a duplicated window covers at least SPAN_K tokens
        if r.n_dup_windows > 0:
            assert r.n_cov_tokens >= SPAN_K


def test_quality_budget_selection_budget_holds(spark, sf_dir):
    from trialstreamer_spark.operators.quality import BUDGET_DEN, BUDGET_NUM

    for r in QUERIES["quality_budget_selection"](spark, sf_dir).collect():
        assert 1 <= r.n_kept <= r.n_docs
        assert 0 < r.tokens_kept <= r.tokens_total
        # kept mass reaches the budget (or the whole source is smaller),
        # and removing the boundary doc would drop below it — i.e. the
        # selection is the MINIMAL prefix meeting the budget
        budget = r.tokens_total * BUDGET_NUM / BUDGET_DEN
        if r.n_kept < r.n_docs:
            assert r.tokens_kept >= budget


def test_embedding_dim_stats_moments_are_consistent(spark, sf_dir):
    from trialstreamer_spark.io import load

    rows = QUERIES["embedding_dim_stats"](spark, sf_dir).collect()
    n_vecs = load(spark, sf_dir, "embeddings").count()
    for r in rows:
        assert r.n == n_vecs  # every vector contributes to every dim
        # Cauchy-Schwarz: n·Σf² ≥ (Σf)² — exact integers, must hold
        assert r.n * r.sumsq_fp >= r.sum_fp * r.sum_fp
        assert abs(r.mean) <= 1.0  # unit-ish embeddings


def test_source_overlap_matrix_matches_oracle_and_bounds(spark, sf_dir):
    assert_matches(
        QUERIES["source_overlap_matrix"](spark, sf_dir),
        ORACLES["source_overlap_matrix"],
        sf_dir,
    )
    for r in QUERIES["source_overlap_matrix"](spark, sf_dir).collect():
        assert r.source_a < r.source_b  # each unordered pair exactly once
        assert 0 < r.n_shared <= min(r.spans_a, r.spans_b)
        assert 0.0 < r.overlap_coef <= 1.0


def test_stratified_eval_split_partitions_corpus(spark, sf_dir):
    assert_matches(
        QUERIES["stratified_eval_split"](spark, sf_dir),
        ORACLES["stratified_eval_split"],
        sf_dir,
    )
    from trialstreamer_spark.io import load

    rows = QUERIES["stratified_eval_split"](spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    # disjoint + exhaustive: per-source split counts sum to the source total
    per_source = {
        r.source: r.n for r in d.groupBy("source").agg(
            F.count("*").alias("n")).collect()
    }
    got = {}
    for r in rows:
        assert r.split in ("train", "val", "test")
        got[r.source] = got.get(r.source, 0) + r.n_docs
    assert got == per_source
    # the split is stable: recomputing yields identical assignment counts
    again = {(r.source, r.split): r.n_docs
             for r in QUERIES["stratified_eval_split"](spark, sf_dir).collect()}
    assert {(r.source, r.split): r.n_docs for r in rows} == again
    # train dominates (~92% band of the hash space)
    tr = sum(r.n_docs for r in rows if r.split == "train")
    assert tr / sum(per_source.values()) > 0.8


def test_diff_drives_incremental_annotation(spark, tmp_path):
    """ParquetTable.diff -> incremental re-annotation: only changed/new
    keys flow through the (stub) annotator - the incremental-reprocessing
    loop a 100 TB corpus runs nightly."""
    from trialstreamer_spark.operators.upsert import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "corp"))
    t.merge(
        spark.range(0, 20).select(
            F.col("id").alias("pmid"), F.lit("x").alias("body")
        ),
        key="pmid",
    )
    v1 = t.current_version()
    t.merge(
        spark.range(15, 25).select(
            F.col("id").alias("pmid"), F.lit("y").alias("body")
        ),
        key="pmid",
    )
    v2 = t.current_version()
    changed = t.diff(v1, v2, key="pmid").where(F.col("change") != "delete")
    # re-process ONLY the changed keys: anti-join semantics mirror
    # incremental_annotate's skiplist, driven by the CDF rows
    todo = t.read().join(changed.select("pmid"), "pmid", "inner")
    assert todo.count() == 10  # 5 updates + 5 inserts, not the full 25
    assert {r.pmid for r in todo.select("pmid").collect()} == set(range(15, 25))


def test_oov_rate_stats_bounds(spark, sf_dir):
    assert_matches(
        QUERIES["oov_rate_stats"](spark, sf_dir),
        ORACLES["oov_rate_stats"],
        sf_dir,
    )
    from trialstreamer_spark.io import load

    rows = QUERIES["oov_rate_stats"](spark, sf_dir).collect()
    n_docs = (
        load(spark, sf_dir, "documents")
        .where("text IS NOT NULL AND length(trim(text)) > 0")
        .count()
    )
    assert len(rows) == n_docs
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert 0.0 <= r.oov_frac <= 1.0


def test_embedding_quantize_int8_error_bound(spark, sf_dir):
    assert_matches(
        QUERIES["embedding_quantize_int8"](spark, sf_dir),
        ORACLES["embedding_quantize_int8"],
        sf_dir,
    )
    for r in QUERIES["embedding_quantize_int8"](spark, sf_dir).collect():
        assert r.fmin <= r.fmax
        # affine SQ8 guarantees: per-value error < one quantization step
        step = (r.fmax - r.fmin) / 255 if r.fmax > r.fmin else 0
        assert r.max_err_fp <= step + 1  # +1 for the integer floor
        assert r.sum_abs_err_fp <= r.n * (step + 1)


def test_multimodal_audio_segments_cover_clip(spark, sf_dir):
    assert_matches(
        QUERIES["multimodal_audio_segments"](spark, sf_dir),
        ORACLES["multimodal_audio_segments"],
        sf_dir,
    )
    from trialstreamer_spark.operators.multimodal import (
        AUDIO_HOP_MS,
        AUDIO_WIN_MS,
    )

    rows = QUERIES["multimodal_audio_segments"](spark, sf_dir).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for segs in by_media.values():
        segs.sort(key=lambda r: r.seg_idx)
        # contiguous indexes from 0; hop spacing; clipped final end
        assert [s.seg_idx for s in segs] == list(range(len(segs)))
        for s in segs:
            assert s.start_ms == s.seg_idx * AUDIO_HOP_MS
            assert s.start_ms < s.end_ms <= s.start_ms + AUDIO_WIN_MS
            assert s.n_samples == (s.end_ms - s.start_ms) * 16
        # windows cover the clip: last end reaches the duration
        assert segs[-1].end_ms > segs[-1].start_ms


def test_join_explosion_audit_predicts_exact_cardinality(spark, sf_dir):
    assert_matches(
        QUERIES["join_explosion_audit"](spark, sf_dir),
        ORACLES["join_explosion_audit"],
        sf_dir,
    )
    from trialstreamer_spark.io import load

    top = QUERIES["join_explosion_audit"](spark, sf_dir).collect()
    assert 0 < len(top) <= 10
    # the audit's product is EXACTLY the join's output count for that key
    o = load(spark, sf_dir, "orders")
    e = load(spark, sf_dir, "events")
    k = top[0].join_key
    actual = (
        o.where(F.col("o_custkey") == k)
        .join(e.where(F.col("user_id") % 1000 == k),
              F.col("o_custkey") == F.col("user_id") % 1000)
        .count()
    )
    assert actual == top[0].out_rows


def test_ngram_novelty_score_invariants(spark, sf_dir):
    assert_matches(
        QUERIES["ngram_novelty_score"](spark, sf_dir),
        ORACLES["ngram_novelty_score"],
        sf_dir,
    )
    rows = QUERIES["ngram_novelty_score"](spark, sf_dir).collect()
    assert rows[0].doc_id == min(r.doc_id for r in rows)
    # the ingest-order first document is 100% novel by definition
    assert rows[0].n_novel == rows[0].n_shingles
    for r in rows:
        assert 0 <= r.n_novel <= r.n_shingles
        assert 0.0 <= r.novelty_frac <= 1.0
    # every shingle has exactly one first occurrence: totals agree
    from trialstreamer_spark.operators.dedup import shingle_postings

    n_distinct_shingles = (
        shingle_postings(spark, sf_dir).select("shingle").distinct().count()
    )
    assert sum(r.n_novel for r in rows) == n_distinct_shingles


def test_doc_keywords_topk_ranks_consistently(spark, sf_dir):
    assert_matches(
        QUERIES["doc_keywords_topk"](spark, sf_dir),
        ORACLES["doc_keywords_topk"],
        sf_dir,
    )
    from trialstreamer_spark.operators.retrieval import KEYWORDS_K

    rows = QUERIES["doc_keywords_topk"](spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for segs in by_doc.values():
        # dense ranks from 1, at most K per doc
        assert [s.rank for s in segs] == list(range(1, len(segs) + 1))
        assert len(segs) <= KEYWORDS_K
        # scores non-increasing down the ranking; ties broken by token
        for hi, lo in zip(segs, segs[1:]):
            assert hi.score_fp >= lo.score_fp
            if hi.score_fp == lo.score_fp:
                assert hi.tok < lo.tok
        for s in segs:
            assert s.tf >= 1 and s.df >= 1


def test_event_gap_stats_bounds(spark, sf_dir):
    assert_matches(
        QUERIES["event_gap_stats"](spark, sf_dir),
        ORACLES["event_gap_stats"],
        sf_dir,
    )
    for r in QUERIES["event_gap_stats"](spark, sf_dir).collect():
        assert r.n_events >= 1
        assert 0 <= r.n_gaps <= r.n_events - 1
        # the worst single gap can never exceed the type's full span
        assert (r.max_gap_us is None) or (0 <= r.max_gap_us <= r.span_us)


def test_sketch_merge_parity_lattice_bounds(spark, sf_dir):
    assert_matches(
        QUERIES["sketch_merge_parity"](spark, sf_dir),
        ORACLES["sketch_merge_parity"],
        sf_dir,
    )
    for r in QUERIES["sketch_merge_parity"](spark, sf_dir).collect():
        # OR-merge lattice: max(|B0|,|B1|) <= |B0 u B1| <= |B0|+|B1|
        assert max(r.occ_shard0, r.occ_shard1) <= r.occ_merged
        assert r.occ_merged <= r.occ_shard0 + r.occ_shard1
        # merged occupancy equals the single-pass sketch's occupancy
        # (same md5-bucket state as linear_probe_distinct)
    lp = {r.lang: r.n_occupied
          for r in QUERIES["linear_probe_distinct"](spark, sf_dir).collect()}
    for r in QUERIES["sketch_merge_parity"](spark, sf_dir).collect():
        assert r.occ_merged == lp[r.lang]


def test_knn_label_consistency_bounds(spark, sf_dir):
    assert_matches(
        QUERIES["knn_label_consistency"](spark, sf_dir),
        ORACLES["knn_label_consistency"],
        sf_dir,
    )
    rows = QUERIES["knn_label_consistency"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_consistent <= r.n_vectors
        assert 0.0 <= r.consistency_frac <= 1.0
    # every vector counted at most once (rank-1 edge per source)
    from trialstreamer_spark.io import load

    n_vecs = load(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vectors for r in rows) <= n_vecs
