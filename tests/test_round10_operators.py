"""Round-10 operator semantics: the exchange-budget rewrites must not
just hash-match the (co-rewritten) oracles — the statistics they state
must be non-degenerate.  whale_revenue_share is the motivating case:
both engines previously took MIN over the qualifying suffix of the
descending revenue cumulative, i.e. the GLOBAL minimum revenue, so the
"top 1%" threshold admitted every customer (a shared-semantics bug the
oracle hash gate cannot catch, found during the r10 rewrite).  These
tests pin the intended boundary behavior independently of any SQL."""

from __future__ import annotations

import pytest

from trialstreamer_spark.io import load
from trialstreamer_spark.plans.all_queries import QUERIES


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.01"


def test_whale_threshold_is_top_percentile_not_global_min(spark, sf_dir):
    row = QUERIES["whale_revenue_share"](spark, sf_dir).collect()[0]
    n = row["n_customers"]
    # the whale set is the smallest at-or-above-threshold population
    # reaching 1% — tiny, never everyone (the old MIN-side bug made
    # n_whales == n_customers and whale_share_fp == 1000000 exactly)
    assert 0 < row["n_whales"] < n
    # ties at the threshold revenue can overshoot the 1% count by up to
    # (count at threshold_cents - 1) rows (r10 ADVICE: a fixed +1 bound
    # is fragile on fixtures with repeated per-customer totals), so
    # bound the overshoot by the actual tie count at the threshold
    from pyspark.sql import functions as F

    o = load(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    ties_at_threshold = cr.where(
        F.col("rev") == row["threshold_cents"]
    ).count()
    assert row["n_whales"] <= max(1, n // 100) + max(0, ties_at_threshold - 1)
    assert 0 < row["whale_share_fp"] < 1_000_000
    # threshold sits strictly above the revenue floor: some customer
    # must fall below it
    floor_cents = cr.agg(F.min("rev")).collect()[0][0]
    assert row["threshold_cents"] > floor_cents


def test_whale_counts_match_direct_recount(spark, sf_dir):
    """n_whales/whale share recomputed directly from the per-customer
    rollup at the reported threshold must equal the query's output."""
    from pyspark.sql import functions as F

    row = QUERIES["whale_revenue_share"](spark, sf_dir).collect()[0]
    o = load(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev")
    )
    got = cr.agg(
        F.sum(F.when(F.col("rev") >= row["threshold_cents"], 1).otherwise(0)),
        F.sum(F.when(F.col("rev") >= row["threshold_cents"], F.col("rev")).otherwise(0)),
        F.sum("rev"),
        F.count("*"),
    ).collect()[0]
    assert got[0] == row["n_whales"]
    assert (1_000_000 * got[1]) // got[2] == row["whale_share_fp"]
    assert got[3] == row["n_customers"]


def test_repeat_rate_matches_naive_self_join(spark, sf_dir):
    """The collect_set rewrite must agree row-for-row with the naive
    distinct + self-join formulation it replaced."""
    from pyspark.sql import functions as F

    got = {
        (r["nation"], r["yr"]): (r["n_active"], r["n_retained"])
        for r in QUERIES["customer_repeat_rate_yoy"](spark, sf_dir).collect()
    }
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").cast("long").alias("yr")
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation")
    cy = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select("c_nationkey", "yr", "o_custkey")
        .distinct()
    )
    nxt = cy.select(
        F.col("c_nationkey").alias("nk"),
        (F.col("yr") - 1).alias("py"),
        F.col("o_custkey").alias("ck"),
    )
    maxyr = cy.agg(F.max("yr")).collect()[0][0]
    ref = (
        cy.join(
            nxt,
            (cy.c_nationkey == nxt.nk)
            & (cy.o_custkey == nxt.ck)
            & (cy.yr == nxt.py),
            "left",
        )
        .where(F.col("yr") < maxyr)
        .join(n, cy.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "yr")
        .agg(
            F.count("*").alias("a"),
            F.sum(F.when(F.col("ck").isNotNull(), 1).otherwise(0)).alias("r"),
        )
        .collect()
    )
    want = {(r["n_name"], r["yr"]): (r["a"], r["r"]) for r in ref}
    assert got == want


def test_parity_doc_not_stale():
    """PARITY.md's registry roll-call is generated; the r9 verdict caught
    it regenerated two commits behind HEAD. This pins the cheap
    invariant: the roll-call must state the CURRENT registry size, so
    adding/removing a query without re-running tools/plan_budget.py
    fails CI instead of shipping a stale doc."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(repo, "PARITY.md")).read()
    m = re.search(r"(\d+) registered queries, (\d+) with DuckDB", text)
    assert m, "PARITY.md generated registry block missing"
    from trialstreamer_spark.plans.all_queries import ORACLES, QUERIES

    assert int(m.group(1)) == len(QUERIES), (
        f"PARITY.md says {m.group(1)} queries, registry has "
        f"{len(QUERIES)} — rerun tools/plan_budget.py"
    )
    assert int(m.group(2)) == len(ORACLES)


def test_crosslingual_pairs_are_cross_language_and_normalized(spark, sf_dir):
    """L170: every reported language pair is unordered (lo < hi — a
    same-language pair can never appear), counts match a brute-force
    recount over the SAME LSH candidate set, and max_cosine clears the
    mining threshold."""
    from pyspark.sql import functions as F

    from trialstreamer_spark.io import load, load_meta
    from trialstreamer_spark.operators.similarity import (
        XLING_TAU,
        lsh_candidate_pairs,
    )

    rows = QUERIES["crosslingual_pair_mining"](spark, sf_dir).collect()
    assert rows, "synthetic corpus should yield cross-lingual candidates"
    for r in rows:
        assert r["lang_lo"] < r["lang_hi"]
        assert r["max_cosine"] >= XLING_TAU
        assert r["n_pairs"] >= 1
    # brute recount: same buckets, langs joined back by id instead of
    # carried through the bucket join
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d = load_meta(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    pairs = lsh_candidate_pairs(e).filter(F.col("cosine") >= XLING_TAU)
    la = d.select(F.col("vec_id").alias("vec_a"), F.col("lang").alias("la"))
    lb = d.select(F.col("vec_id").alias("vec_b"), F.col("lang").alias("lb"))
    ref = {
        (r["lo"], r["hi"]): r["n"]
        for r in (
            pairs.join(la, "vec_a")
            .join(lb, "vec_b")
            .where(F.col("la") != F.col("lb"))
            .groupBy(
                F.least("la", "lb").alias("lo"),
                F.greatest("la", "lb").alias("hi"),
            )
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    assert {(r["lang_lo"], r["lang_hi"]): r["n_pairs"] for r in rows} == ref


def test_xling_margin_matches_pandas_recount(spark):
    """L171: margins recomputed in pandas from the raw candidate pool
    (same buckets, same fixed-point floors) must reproduce the query's
    top-20 exactly — including the hub normalization."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from trialstreamer_spark.io import load, load_meta
    from trialstreamer_spark.operators.similarity import (
        XLING_MARGIN_K,
        lsh_candidate_pairs,
    )

    sf = "/root/testdata/sf0.001"
    got = QUERIES["xling_margin_topk"](spark, sf).toPandas()
    assert len(got) == 20
    assert (got["lang_a"] != got["lang_b"]).all()

    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    d = load_meta(spark, sf, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    p = (
        lsh_candidate_pairs(e.join(d, "vec_id"), carry=("lang",))
        .filter(F.col("lang_a") != F.col("lang_b"))
        .toPandas()
    )
    p["cos_fp"] = p["cosine"].map(lambda c: math.floor(c * 10_000_000))
    directed = pd.concat(
        [
            p.rename(columns={"vec_a": "id", "lang_b": "olang", "vec_b": "nb"})[
                ["id", "olang", "cos_fp", "nb"]
            ],
            p.rename(columns={"vec_b": "id", "lang_a": "olang", "vec_a": "nb"})[
                ["id", "olang", "cos_fp", "nb"]
            ],
        ]
    )
    knn = (
        directed.sort_values(["cos_fp", "nb"], ascending=[False, True])
        .groupby(["id", "olang"])
        .head(XLING_MARGIN_K)
        .groupby(["id", "olang"])["cos_fp"]
        .agg(lambda s: int(sum(s)) // len(s))
        .to_dict()
    )
    p["margin_fp"] = [
        (2_000_000 * r.cos_fp)
        // (knn[(r.vec_a, r.lang_b)] + knn[(r.vec_b, r.lang_a)])
        for r in p.itertuples()
    ]
    want = p.sort_values(
        ["margin_fp", "vec_a", "vec_b"], ascending=[False, True, True]
    ).head(20)
    assert list(got["vec_a"]) == list(want["vec_a"])
    assert list(got["vec_b"]) == list(want["vec_b"])
    assert list(got["margin_fp"]) == list(want["margin_fp"])
