"""Semantic invariants for the round-5 operators (their oracle parity is
covered by test_relational_oracle's full parameterization; these pin the
cross-operator and accounting properties a hash compare can't see)."""

from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from trialstreamer_spark import sidecars
from trialstreamer_spark.io import load
from trialstreamer_spark.plans.all_queries import QUERIES


def test_customer_order_distribution_accounts_for_everything(spark, sf_dir):
    """The distribution must partition the customer set exactly, and its
    weighted sum must equal the order count — both totals reconcile."""
    rows = QUERIES["customer_order_distribution"](spark, sf_dir).collect()
    n_customers = load(spark, sf_dir, "customer").count()
    n_orders = load(spark, sf_dir, "orders").count()
    assert sum(r.custdist for r in rows) == n_customers
    assert sum(r.c_count * r.custdist for r in rows) == n_orders
    # the LEFT join's reason to exist: zero-order customers survive
    # (independently derived — the synthetic data may have none)
    n_zero = (
        load(spark, sf_dir, "customer")
        .join(
            load(spark, sf_dir, "orders"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .count()
    )
    zero_bucket = {r.c_count: r.custdist for r in rows}.get(0, 0)
    assert zero_bucket == n_zero


def test_small_qty_revenue_threshold_is_strict_subset(spark, sf_dir):
    rows = QUERIES["small_qty_revenue"](spark, sf_dir).collect()
    assert rows and all(r.revenue_cents > 0 for r in rows)
    assert sum(r.n_rows for r in rows) < load(spark, sf_dir, "lineitem").count()


def test_dormant_rich_customers_have_no_orders(spark, sf_dir):
    """Independent re-derivation: the flagged customers joined back to
    orders must produce zero matches (the NOT EXISTS contract)."""
    total = (
        QUERIES["dormant_rich_customers"](spark, sf_dir)
        .agg(F.sum("n_customers"))
        .collect()[0][0]
        or 0
    )
    assert total > 0  # cutoff tuned so the result is non-trivial at every SF
    # re-derive with the opposite formulation: semi-join must be empty
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    thresh = (
        c.where(F.col("c_acctbal") > 0)
        .agg(
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("s"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    rich = c.where(
        F.round(F.col("c_acctbal") * 100).cast("long") * thresh.n > thresh.s
    )
    recent = o.where(F.col("o_orderdate") >= "2000-01-01")
    rich_with_orders = rich.join(
        recent, rich.c_custkey == recent.o_custkey, "left_semi"
    ).count()
    assert total == rich.count() - rich_with_orders


def test_late_shipment_counts_orders_not_lineitems(spark, sf_dir):
    """Each late order counts ONCE no matter how many late lineitems."""
    total = (
        QUERIES["late_shipment_priority"](spark, sf_dir)
        .agg(F.sum("n_late_orders"))
        .collect()[0][0]
    )
    assert 0 < total <= load(spark, sf_dir, "orders").count()


def test_minhash_incremental_matches_are_lsh_candidates(spark, sf_dir):
    """Cross-operator consistency: every (batch doc, first_match) pair
    the incremental probe reports must be a candidate pair of the full
    dedup_minhash_lsh run (same signatures, same bands)."""
    inc = QUERIES["dedup_minhash_incremental"](spark, sf_dir).collect()
    full = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert inc
    for r in inc:
        a, b = sorted((r.doc_id, r.first_match))
        assert (a, b) in full
        assert r.first_match % 13 != 0 and r.doc_id % 13 == 0
        assert r.n_candidates >= 1


def test_source_distinctive_tokens_shape(spark, sf_dir):
    rows = QUERIES["source_distinctive_tokens"](spark, sf_dir).collect()
    assert rows
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
        assert 1 <= r.rank <= 5 and r.n_st >= 5 and r.lift_fp >= 0
    for rs in by_source.values():
        assert [x.rank for x in sorted(rs, key=lambda x: x.rank)] == list(
            range(1, len(rs) + 1)
        )
        # ranked by lift desc (tok tiebreak): monotone non-increasing
        lifts = [x.lift_fp for x in sorted(rs, key=lambda x: x.rank)]
        assert lifts == sorted(lifts, reverse=True)


def test_erasure_manifest_reconciles_with_direct_counts(spark, sf_dir):
    rows = {
        r.artifact: r
        for r in QUERIES["erasure_manifest"](spark, sf_dir).collect()
    }
    assert set(rows) == {"chunks", "documents", "shingle_postings"}
    d = load(spark, sf_dir, "documents")
    doomed_docs = d.where(F.col("doc_id") % 97 == 0).count()
    assert rows["documents"].n_rows == doomed_docs
    assert rows["documents"].n_docs == doomed_docs
    # derived artifacts fan out (>= 1 row per doomed doc with text)
    for art in ("chunks", "shingle_postings"):
        assert rows[art].n_docs == doomed_docs
        assert rows[art].n_rows >= doomed_docs
    # and after applying the erasure, the manifest must read zero: the
    # purge predicate is the complement of the audit predicate
    survivors = d.where(F.col("doc_id") % 97 != 0)
    assert survivors.where(F.col("doc_id") % 97 == 0).count() == 0


def test_cluster_size_histogram_reconciles_with_cc(spark, sf_dir):
    """Histogram totals must reconcile with the per-doc CC view: sum of
    n_docs = corpus size, and per-size doc counts equal size·clusters."""
    hist = QUERIES["dup_cluster_size_histogram"](spark, sf_dir).collect()
    n_docs_total = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in hist) == n_docs_total
    for r in hist:
        assert r.n_docs == r.cluster_size * r.n_clusters
    cc = QUERIES["dedup_connected_components"](spark, sf_dir).collect()
    from collections import Counter

    sizes = Counter(r.cluster_size for r in cc)
    assert {r.cluster_size: r.n_docs for r in hist} == dict(sizes)


def test_embedding_norm_outliers_bounds(spark, sf_dir):
    rows = QUERIES["embedding_norm_outliers"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_outliers <= r.n_vecs
        assert r.min_norm_fp <= r.max_norm_fp


def test_hopping_rollup_double_counts_tumbling(spark, sf_dir):
    """Every event lands in exactly two hopping windows, so the hopping
    rollup's total count must be exactly 2× the event count."""
    total = (
        QUERIES["hopping_rollup_stream_parity"](spark, sf_dir)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    n_events = load(spark, sf_dir, "events").count()
    assert total == 2 * n_events


def test_dup_rate_by_quality_reconciles(spark, sf_dir):
    rows = QUERIES["dup_rate_by_quality"](spark, sf_dir).collect()
    n_docs_total = load(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs_total
    for r in rows:
        assert 0 <= r.n_dup_docs <= r.n_docs
        assert abs(r.dup_frac - r.n_dup_docs / r.n_docs) < 1e-12


def test_near_dup_source_matrix_reconciles_with_pairs(spark, sf_dir):
    """Matrix total = candidate pair count; pairs are unordered
    (source_a <= source_b)."""
    rows = QUERIES["near_dup_source_matrix"](spark, sf_dir).collect()
    n_pairs = QUERIES["dedup_minhash_lsh"](spark, sf_dir).count()
    assert sum(r.n_pairs for r in rows) == n_pairs
    for r in rows:
        assert r.source_a <= r.source_b and r.n_pairs > 0


def test_dedup_token_savings_reconciles(spark, sf_dir):
    rows = QUERIES["dedup_token_savings"](spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    # kept docs across sources = number of components (one canonical per
    # cluster)
    n_components = (
        QUERIES["dedup_connected_components"](spark, sf_dir)
        .select("component")
        .distinct()
        .count()
    )
    assert sum(r.n_docs_kept for r in rows) == n_components
    for r in rows:
        assert 0 < r.n_docs_kept <= r.n_docs
        assert 0 <= r.tokens_kept <= r.tokens_total
        assert abs(
            r.removed_frac - (r.tokens_total - r.tokens_kept) / r.tokens_total
        ) < 1e-12


def test_nprobe_recall_curve_is_monotone_and_consistent(spark, sf_dir):
    """Recall@10 must be non-decreasing in nprobe for every query
    (candidate sets are nested), and the nprobe=2 column must equal
    ann_recall_at_k (the same measurement at the fixed operating
    point)."""
    rows = QUERIES["ann_nprobe_recall_curve"](spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, {})[r.nprobe] = r.n_overlap
    assert by_q and all(set(v) == {1, 2, 3} for v in by_q.values())
    for q, v in by_q.items():
        assert v[1] <= v[2] <= v[3] <= 10
    fixed = {
        r.query_id: r.n_overlap
        for r in QUERIES["ann_recall_at_k"](spark, sf_dir).collect()
    }
    assert {q: v[2] for q, v in by_q.items()} == fixed


def test_upsert_sink_parity_reuses_completed_replay(spark, sf_dir, monkeypatch):
    """Second call serves from the committed replay sidecar without
    re-running the stream or re-committing the table, and agrees
    row-for-row."""
    first = QUERIES["upsert_sink_stream_parity"](spark, sf_dir).collect()
    # the upsert sink rides the SAME replay sidecar lifecycle as every
    # memory-sink parity query (one mechanism owns all stream sinks)
    pointer = os.path.join(
        sidecars.sidecar_path(sf_dir, "replay_upsert_sink"), "_current"
    )
    with open(pointer) as f:
        version = f.read()

    def no_stream(*a, **k):
        raise AssertionError("second call started a stream")

    monkeypatch.setattr(DataStreamWriter, "start", no_stream)
    second = QUERIES["upsert_sink_stream_parity"](spark, sf_dir).collect()
    with open(pointer) as f:
        assert f.read() == version  # no new table version committed
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_multimodal_phash_dedup_pairs_are_valid(spark, sf_dir):
    rows = QUERIES["multimodal_phash_dedup"](spark, sf_dir).collect()
    assert rows  # prefix-canonical near-dups exist at every SF
    seen = set()
    for r in rows:
        assert r.media_a < r.media_b
        assert 0 <= r.hamming <= 8
        assert (r.media_a, r.media_b) not in seen
        seen.add((r.media_a, r.media_b))


def test_lang_confusion_matrix_partitions_corpus(spark, sf_dir):
    rows = QUERIES["lang_confusion_matrix"](spark, sf_dir).collect()
    assert rows
    n_docs = load(spark, sf_dir, "documents").count()
    assert sum(r.n for r in rows) == n_docs
    per_lang = defaultdict(int)
    for r in rows:
        per_lang[r.lang] += r.frac_fp
        assert 0 <= r.frac_fp <= 1_000_000
    # integer-division shares per labeled lang sum to ~1e6 (floor loss
    # bounded by the number of cells in the row)
    for lang, tot in per_lang.items():
        assert 1_000_000 - 10 <= tot <= 1_000_000


def test_doc_length_histogram_reconciles(spark, sf_dir):
    rows = QUERIES["doc_length_histogram"](spark, sf_dir).collect()
    d = load(spark, sf_dir, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert r.bucket_lo % 32 == 0
        # token mass consistent with the bucket bounds
        assert r.bucket_lo * r.n_docs <= r.n_tokens_total
        assert r.n_tokens_total < (r.bucket_lo + 32) * r.n_docs


def test_event_transitions_reconcile(spark, sf_dir):
    rows = QUERIES["event_type_transitions"](spark, sf_dir).collect()
    n_events = load(spark, sf_dir, "events").count()
    n_users = (
        load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert sum(r.n for r in rows) == n_events
    start_mass = sum(r.n for r in rows if r.prev_type == "(start)")
    assert start_mass == n_users  # exactly one opening event per user
    from collections import defaultdict

    per_prev = defaultdict(int)
    for r in rows:
        per_prev[r.prev_type] += r.frac_fp
        assert 0 <= r.frac_fp <= 1_000_000
    for tot in per_prev.values():
        assert 1_000_000 - 10 <= tot <= 1_000_000
