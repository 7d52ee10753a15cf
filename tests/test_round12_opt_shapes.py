"""Round-12 optimization shape tests: pin the plan properties the r12
rewrites bought, so a regression fails CI instead of surfacing as a
cluster bill. Values are covered by the oracle suites
(test_relational_oracle sf0.001, test_sf01_sweep sf0.01); these assert
the SHAPE."""

from __future__ import annotations

import re

from trialstreamer_spark.plans.all_queries import QUERIES


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_jaccard_calibration_intersects_postings_not_arrays(spark, sf_dir):
    """Exact |A∩B| comes from the exploded (doc, shingle) postings
    re-joined per candidate pair and folded back through the tagged
    union — no per-doc shingle array is assembled or carried through the
    pair joins, so no row's payload grows with document length."""
    df = QUERIES["dup_pair_jaccard_calibration"](spark, sf_dir)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" not in p
    assert "collect_list" not in p
    assert "Union" in p  # the est/exact tagged-union fold


def test_ann_recall_windows_carry_only_row_number(spark, sf_dir):
    """The fused recall rank pass computes ONLY row_number (the
    in-cell running sums are implied for global top-k rows), and the
    rank filter group-limits per task before the exchange."""
    for q in (
        "ann_recall_at_k",
        "ann_nprobe_recall_curve",
        "mips_nprobe_recall_curve",
    ):
        p = QUERIES[q](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in p, q
        # exactly one window expression: the row_number rank — no
        # sum(...) windowspecdefinition remains
        window_args = [
            ln for ln in p.splitlines() if "windowspecdefinition" in ln
        ]
        assert window_args, q
        assert all("sum(" not in ln for ln in window_args), q


def test_weekly_drift_global_leg_reuses_week_rollup(spark, sf_dir):
    """The global CDF consumes the (week, v_c) rollup directly
    under a tie-inclusive RANGE frame — no pre-merge aggregate keyed on
    v_c alone remains in the optimized plan."""
    df = QUERIES["weekly_value_quantile_drift"](spark, sf_dir)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert not re.search(r"Aggregate \[v_c#\d+L?\], \[v_c", p)
