"""Focused first-principles tests for the r11 OPTIMIZATION batch-9
rewrites — the properties the oracle hash compare cannot localize if a
future refactor breaks them:

- dup_graph_degree_histogram no longer LEFT-JOINs the corpus: bucket 0
  is DERIVED (count − Σ nonzero buckets) and emitted only when
  positive. Conservation and the clique/no-bucket-0 edge pin that.
- rolling_active_users now rides the shared interval-stabbing WAU
  engine instead of the 7× explode + countDistinct: brute-force
  equality over the real sf0.001 events recomputes the window
  semantics from raw (user, day) pairs.
- source_scorecard folds the dup census into one fp-keyed pass: a
  CROSS-SOURCE duplicate must still count as a dup doc in BOTH
  sources (the fp window is global, not per-source).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from trialstreamer_spark.io import load
from trialstreamer_spark.plans.all_queries import QUERIES
from trialstreamer_spark.util import evict_caches

SF = "/root/testdata/sf0.001"


def _write_docs(tmp: str, rows: list[tuple[int, str | None, str]]) -> None:
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": ["en"] * len(rows),
                "source": [r[2] for r in rows],
                "n_chars": pa.array(
                    [len(r[1]) if r[1] is not None else None for r in rows],
                    pa.int64(),
                ),
            }
        ),
        os.path.join(tmp, "documents.parquet"),
    )


def test_degree_histogram_conserves_docs_and_endpoints(spark):
    """Σ n_docs over buckets == |documents| (every doc lands in exactly
    one bucket even though the corpus is never joined), the derived
    bucket-0 row carries zero endpoints, and Σ n_endpoints == 2·|pairs|
    recomputed directly from the shared candidate sidecar."""
    from trialstreamer_spark.operators.dedup import minhash_candidates

    d = load(spark, SF, "documents")
    n_docs = d.count()
    n_pairs = minhash_candidates(spark, SF).count()
    rows = QUERIES["dup_graph_degree_histogram"](spark, SF).collect()
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_endpoints for r in rows) == 2 * n_pairs
    for r in rows:
        if r.degree_bucket == 0:
            assert r.n_endpoints == 0


def test_degree_histogram_clique_has_no_bucket0(spark):
    """A corpus of EXACT near-dup copies is one clique: every doc has
    degree n-1 > 0, so the derived bucket-0 row must NOT appear (the
    oracle's GROUP BY has no degree-0 group either) — and the single
    bucket must carry all docs. 4 identical docs -> degree 3 ->
    bucket length(bin(3)) = 2."""
    tmp = "/tmp/degree_clique_fixture"
    same = "alpha beta gamma delta epsilon zeta eta theta"
    _write_docs(tmp, [(i, same, "s") for i in range(4)])
    evict_caches(tmp)
    rows = QUERIES["dup_graph_degree_histogram"](spark, tmp).collect()
    assert [r.degree_bucket for r in rows] == [2]
    assert rows[0].n_docs == 4 and rows[0].n_endpoints == 12


def test_rolling_active_users_equals_bruteforce(spark):
    """Interval stabbing == the definition: for every OBSERVED day d,
    n_active_7d is the count of users with >= 1 event in [d-6d, d],
    recomputed here from raw (user, day) pairs with plain Python."""
    e = load(spark, SF, "events")
    pairs = {
        (r.u, r.d)
        for r in e.select(
            F.col("user_id").alias("u"),
            F.unix_micros(F.date_trunc("day", "ts")).alias("d"),
        )
        .distinct()
        .collect()
    }
    DAY = 86400000000
    days = sorted({d for _, d in pairs})
    expect = {
        d: len({u for (u, ud) in pairs if d - 6 * DAY <= ud <= d})
        for d in days
    }
    rows = QUERIES["rolling_active_users"](spark, SF).collect()
    got = {r.window_end_us: r.n_active_7d for r in rows}
    assert got == expect


def test_source_scorecard_counts_cross_source_dups(spark):
    """The dup census is corpus-GLOBAL: a text duplicated ACROSS two
    sources is a dup doc in both (n_copies rides a fingerprint window,
    not a per-source rollup). s1: dup + unique -> share 500000 of 2;
    s2: its only doc is the cross-source copy -> share 1000000."""
    tmp = "/tmp/scorecard_xsource_fixture"
    _write_docs(
        tmp,
        [
            (1, "shared text body", "s1"),
            (2, "only in s one", "s1"),
            (3, "shared text body", "s2"),
        ],
    )
    evict_caches(tmp)
    rows = {r.source: r for r in QUERIES["source_scorecard"](spark, tmp).collect()}
    assert rows["s1"].n_docs == 2 and rows["s1"].dup_doc_share_fp == 500000
    assert rows["s2"].n_docs == 1 and rows["s2"].dup_doc_share_fp == 1000000
    # per-doc stats survive the (fp, source) rollup exactly
    assert rows["s1"].mean_words == 3  # (3 + 4) // 2 ... see below
    # "shared text body" = 3 words, "only in s one" = 4 words -> 7 DIV 2 = 3
    assert rows["s2"].mean_words == 3


def test_source_scorecard_drops_null_text(spark):
    """NULL-text docs are OUT of the scorecard entirely: the oracle's
    inner self-join on fp = md5(text) never matches a NULL fp, so the
    one-pass rewrite must not count them toward n_docs, the mean_words
    denominator, or (with two NULLs) the dup share (r11 ADVICE — the
    fp window otherwise keeps NULL as a regular group)."""
    tmp = "/tmp/scorecard_nulltext_fixture"
    _write_docs(
        tmp,
        [
            (1, "real body here", "s1"),
            (2, None, "s1"),
            (3, None, "s1"),
            (4, None, "s2"),
        ],
    )
    evict_caches(tmp)
    rows = {r.source: r for r in QUERIES["source_scorecard"](spark, tmp).collect()}
    assert "s2" not in rows  # its only doc is NULL text
    assert rows["s1"].n_docs == 1
    assert rows["s1"].dup_doc_share_fp == 0  # two NULLs are not a dup pair
    assert rows["s1"].mean_words == 3  # "real body here"
