"""Focused first-principles tests for the r11 OPTIMIZATION batch-10
rewrites — the properties the oracle hash compare cannot localize if a
future refactor breaks them:

- top_supplier_revenue now spells "equals the maximum" as rank() == 1
  (WindowGroupLimit bounded funnel): ties at the max must ALL survive,
  and the quarter date filter must still gate the rollup.
- linear_probe_distinct folds both counts into one distinct
  (lang, tok) pass: n_distinct and n_occupied recomputed brute-force
  with hashlib over a hand corpus.
- doc_prefix_dup_rate computes the prefix census with windows instead
  of a census join-back: exact full-text dups are still excluded
  (n_full == 1), cross-source head dups count in BOTH sources, and a
  NULL text stays out of the per-source doc count (the old inner
  join's behavior, now an explicit isNotNull guard).
- containment_pairs_capped emits both directions from ONE consumption
  of the pair frame (conditional-array explode): a strict subset pair
  yields exactly one direction, identical docs yield both.
- vocab_growth_curve: bucketed first-appearance counts and cumulative
  vocab recomputed brute-force from raw text.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tests.conftest import write_documents
from trialstreamer_spark.plans.all_queries import QUERIES
from trialstreamer_spark.util import evict_caches


def _write(tmp_path, name: str, df: pd.DataFrame) -> None:
    df.to_parquet(str(tmp_path / f"{name}.parquet"), index=False)


def _docs(rows: list[tuple[int, str, str]]) -> pd.DataFrame:
    """(doc_id, text, source) rows → full documents schema."""
    return pd.DataFrame(
        {
            "doc_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": [r[2] for r in rows],
            "n_chars": pd.Series([len(r[1]) for r in rows], dtype="int64"),
        }
    )


def test_top_supplier_revenue_keeps_all_ties(spark, tmp_path):
    # Quarter revenue (cents): supp 1 -> 500 (one row), supp 2 -> 500
    # (250 + 250), supp 3 -> 499; supp 1 also ships 10000 OUTSIDE the
    # quarter (must not count). Max = 500, tied -> both rows survive
    # the rank()==1 filter, ordered by suppkey.
    _write(
        tmp_path,
        "lineitem",
        pd.DataFrame(
            {
                "l_suppkey": pd.Series([1, 2, 2, 3, 1], dtype="int64"),
                "l_extendedprice": [5.00, 2.50, 2.50, 4.99, 100.00],
                "l_discount": [0.0, 0.0, 0.0, 0.0, 0.0],
                "l_shipdate": pd.Series(
                    pd.to_datetime(
                        [
                            "1996-02-01",
                            "1996-01-15",
                            "1996-03-30",
                            "1996-02-20",
                            "1995-06-01",
                        ]
                    )
                ).dt.as_unit("us"),
            }
        ),
    )
    _write(
        tmp_path,
        "supplier",
        pd.DataFrame(
            {
                "s_suppkey": pd.Series([1, 2, 3], dtype="int64"),
                "s_name": ["S1", "S2", "S3"],
            }
        ),
    )
    rows = QUERIES["top_supplier_revenue"](spark, str(tmp_path)).collect()
    assert [(r.suppkey, r.supp_name, r.total_rev_c) for r in rows] == [
        (1, "S1", 500),
        (2, "S2", 500),
    ]


def test_linear_probe_distinct_matches_bruteforce(spark, tmp_path):
    docs = [
        (1, "Apple banana apple CHERRY", "s"),
        (2, "banana durian", "s"),
        (3, "fig", "s"),
    ]
    write_documents(str(tmp_path), docs)
    evict_caches(str(tmp_path))
    rows = {
        r.lang: r
        for r in QUERIES["linear_probe_distinct"](spark, str(tmp_path)).collect()
    }
    toks = {
        t
        for _, text, _ in docs
        for t in text.lower().split()
    }
    buckets = {
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 1024 for t in toks
    }
    assert rows["en"].n_distinct == len(toks) == 5
    assert rows["en"].n_occupied == len(buckets)
    assert rows["en"].m == 1024


def test_doc_prefix_dup_rate_window_census(spark, tmp_path):
    head = "x" * 64
    docs = [
        (1, head + "alpha tail", "s1"),  # head-dup (vs doc 2)
        (2, head + "beta tail", "s2"),  # head-dup (vs doc 1)
        (3, "a unique document", "s1"),
        (4, "same exact text", "s1"),  # exact dup pair: n_full == 1
        (5, "same exact text", "s1"),  # -> NOT a head dup
        (6, None, "s2"),  # NULL text: out of the census entirely
    ]
    write_documents(str(tmp_path), docs)
    evict_caches(str(tmp_path))
    rows = {
        r.source: r
        for r in QUERIES["doc_prefix_dup_rate"](spark, str(tmp_path)).collect()
    }
    assert (rows["s1"].n_docs, rows["s1"].n_head_dup_docs) == (4, 1)
    assert rows["s1"].head_dup_fp == 250000
    assert (rows["s2"].n_docs, rows["s2"].n_head_dup_docs) == (1, 1)
    assert rows["s2"].head_dup_fp == 1000000


def test_containment_direction_emission(spark, tmp_path):
    # doc 1 ("a..f", 4 shingles) is a strict subset of doc 2 ("a..h",
    # 6 shingles): containment(1 in 2) = 4/4 >= 0.8 but (2 in 1) =
    # 4/6 < 0.8 -> exactly ONE direction. docs 3,4 are identical (3
    # shingles each) -> BOTH directions.
    docs = [
        (1, "a b c d e f", "s"),
        (2, "a b c d e f g h", "s"),
        (3, "p q r s t", "s"),
        (4, "p q r s t", "s"),
    ]
    write_documents(str(tmp_path), docs)
    evict_caches(str(tmp_path))
    rows = QUERIES["containment_pairs_capped"](spark, str(tmp_path)).collect()
    got = [
        (r.inner_doc, r.outer_doc, r.n_inner, r.n_outer, r.n_common)
        for r in rows
    ]
    assert got == [(1, 2, 4, 6, 4), (3, 4, 3, 3, 3), (4, 3, 3, 3, 3)]
    assert all(r.containment_fp == 1000000 for r in rows)


def test_vocab_growth_curve_matches_bruteforce(spark, tmp_path):
    # first_doc per token: a->0, b->0, c->1, d->3, e->7, f->7;
    # bucket = len(bin(first+1)): {a,b}->1, {c}->2, {d}->3, {e,f}->4;
    # cumulative vocab: 2, 3, 4, 6.
    docs = [
        (0, "a b", "s"),
        (1, "a c", "s"),
        (3, "d", "s"),
        (7, "a e f", "s"),
    ]
    write_documents(str(tmp_path), docs)
    evict_caches(str(tmp_path))
    rows = QUERIES["vocab_growth_curve"](spark, str(tmp_path)).collect()
    assert [(r.doc_bucket, r.n_new_types, r.vocab_size) for r in rows] == [
        (1, 2, 2),
        (2, 1, 3),
        (3, 1, 4),
        (4, 2, 6),
    ]
