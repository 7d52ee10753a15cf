"""Temporal joins, corpus-quality, retrieval, and dedup-clustering
operators vs DuckDB oracle (sf0.001), plus handcrafted semantic checks."""

from __future__ import annotations

import os

import pytest

import trialstreamer_spark.operators.clustering  # noqa: F401
import trialstreamer_spark.operators.dedup as dedup
import trialstreamer_spark.operators.quality as quality
import trialstreamer_spark.operators.retrieval as retrieval
import trialstreamer_spark.operators.temporal as temporal  # noqa: F401
from trialstreamer_spark.plans.registry import ORACLES, QUERIES

from pyspark.sql import functions as F

from tests.oracle_util import assert_matches

EXTRA_QUERIES = [
    "asof_join_last_click",
    "value_band_join",
    "quality_repetition_stats",
    "sample_stratified",
    "pii_email_stats",
    "bm25_topk",
    "dedup_connected_components",
    "kmeans_assign",
    "doc_chunks",
]


@pytest.mark.parametrize("name", EXTRA_QUERIES)
def test_extra_matches_oracle(spark, sf_dir, name):
    assert name in ORACLES, f"{name} not registered with an oracle"
    assert_matches(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)


def test_asof_join_semantics(spark):
    """A right-side row strictly after the probe must NOT be attributed;
    the most recent at-or-before one must."""
    import datetime as dt

    rows = [
        # user 1: click@10, error@20 (-> 10), click@30, error@25 (-> 10)
        (1, 1, dt.datetime(2024, 1, 1, 0, 0, 10), "click"),
        (2, 1, dt.datetime(2024, 1, 1, 0, 0, 20), "error"),
        (3, 1, dt.datetime(2024, 1, 1, 0, 0, 30), "click"),
        (4, 1, dt.datetime(2024, 1, 1, 0, 0, 25), "error"),
        # user 2: error with no prior click -> null
        (5, 2, dt.datetime(2024, 1, 1, 0, 0, 5), "error"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = temporal.asof_join(
        df.select("*", F.unix_micros("ts").alias("ts_us")),
        key="user_id",
        order=["ts", "event_id"],
        right_flag=F.col("event_type") == "click",
        right_value=F.col("ts_us"),
    )
    got = {
        r.event_id: r.asof_value
        for r in out.filter(F.col("event_type") == "error").collect()
    }

    def us(s):
        return int(
            dt.datetime(2024, 1, 1, 0, 0, s, tzinfo=dt.timezone.utc).timestamp() * 1e6
        )

    assert got[2] == us(10)
    assert got[4] == us(10)  # click@30 is AFTER error@25 — not attributed
    assert got[5] is None


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3 collapses to min label 1; pair (10,11) to 10;
    singleton 99 stays its own component."""
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "doc_id long")
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        r.doc_id: r.component
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_max_iter_guard(spark):
    nodes = spark.createDataFrame([(1,), (2,)], "doc_id long")
    edges = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="converge"):
        # the union-find pre-pass already solves a 2-node graph, but the
        # fixpoint still needs one confirming round — max_iter=0 must raise
        dedup.connected_components(nodes, edges, max_iter=0)


def test_repetition_stats_handcrafted(spark):
    """'a b a b a b' -> bigrams (a b)x3,(b a)x2: n=5 top=3; trigrams
    (a b a)x2,(b a b)x2: n=4 dup=4."""
    docs = spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    b = quality._gram_counts(docs, 2).collect()[0]
    assert (b.n_grams, b.top_n) == (5, 3)
    t = quality._gram_counts(docs, 3).collect()[0]
    assert (t.n_grams, t.dup_n) == (4, 4)


def test_value_band_boundaries(spark, sf_dir):
    """Band edges are [lo, hi): value=10.0 must land in b1, not b0, and
    every event lands in exactly one band."""
    from trialstreamer_spark.io import load

    out = QUERIES["value_band_join"](spark, sf_dir)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == load(spark, sf_dir, "events").count()


def test_sample_stratified_is_pure(spark, sf_dir):
    a = QUERIES["sample_stratified"](spark, sf_dir).collect()
    b = QUERIES["sample_stratified"](spark, sf_dir).collect()
    assert a == b
    for row in a:
        assert 0 < row.n_sampled < row.n_total  # cutoffs neither 0% nor 100%


def test_bm25_tf_monotone(spark, tmp_path):
    """With equal document length, more query-term occurrences ⇒ strictly
    higher score; a doc without any term is absent."""
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame(
        [
            (1, "table x y z q w"),
            (2, "table table y z q w"),
            (3, "u v w x y z"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(os.path.join(corpus, "documents.parquet"))
    got = {
        r.doc_id: r.score_fp
        for r in retrieval.bm25_scores(spark, corpus, ("table",)).collect()
    }
    assert set(got) == {1, 2}
    assert got[2] > got[1]


def test_kmeans_seed_vectors_self_assign(spark, sf_dir):
    """A seed vector's nearest centroid is itself, at exactly distance 0
    (fp(a,a) - 2·fp(a,a) + fp(a,a) cancels in exact int64 arithmetic)."""
    from trialstreamer_spark.operators.clustering import K_CLUSTERS

    rows = (
        QUERIES["kmeans_assign"](spark, sf_dir)
        .filter(F.col("vec_id") < K_CLUSTERS)
        .collect()
    )
    assert len(rows) == K_CLUSTERS
    for r in rows:
        assert r.cluster == r.vec_id and r.dist_fp == 0


def test_doc_chunks_windows(spark):
    """40 tokens, size 32 / stride 24 -> chunk0 = tokens 1..32,
    chunk1 = tokens 25..40 (16 tokens, 8 overlapping chunk0)."""
    text = " ".join(f"w{i}" for i in range(1, 41))
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    from trialstreamer_spark.operators import quality as q

    # the query function reads from parquet; replay the column logic on a
    # handcrafted one-doc frame
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("t"),
    )
    n_chunks_m1 = F.floor((F.size("t") - 1) / q.CHUNK_STRIDE).cast("long")
    chunk = F.slice(F.col("t"), F.col("chunk_idx") * q.CHUNK_STRIDE + 1, q.CHUNK_SIZE)
    got = (
        toks.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0).cast("long"), n_chunks_m1)).alias(
                "chunk_idx"
            ),
        )
        .select("chunk_idx", F.size(chunk).alias("n"), chunk.alias("c"))
        .orderBy("chunk_idx")
        .collect()
    )
    assert [(r.chunk_idx, r.n) for r in got] == [(0, 32), (1, 16)]
    assert got[1].c[0] == "w25" and got[1].c[-1] == "w40"


def test_scrub_emails(spark):
    df = spark.createDataFrame(
        [(1, "mail me at bob@host.org or alice@example.com now")], "id long, t string"
    )
    out = df.select(quality.scrub_emails(F.col("t")).alias("s")).collect()[0].s
    assert out == "mail me at <EMAIL> or <EMAIL> now"
