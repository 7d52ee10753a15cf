"""tools/ab.py's arithmetic on fixed numbers (no Spark, no benchmark
runs): seed parsing, quartiles, pair wins and the gain verdict."""

from __future__ import annotations

import importlib.util
import os

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)


def test_parse_seeds():
    assert ab.parse_seeds("701-705") == [701, 702, 703, 704, 705]
    assert ab.parse_seeds("7") == [7]


def test_quartiles_interpolate_between_order_statistics():
    assert ab.quartiles([4, 1, 3, 2, 5]) == (2, 3, 4)
    # positions 0.75, 1.5, 2.25 of [1, 2, 3, 10]
    assert ab.quartiles([10, 1, 3, 2]) == pytest.approx((1.75, 2.5, 4.75))
    assert ab.quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_wins_respect_direction_and_ties():
    parent, change = [10, 10, 10], [9, 10, 11]
    assert ab.wins(parent, change, "lower") == 1
    assert ab.wins(parent, change, "higher") == 1


PARENT = [40.0, 39.0, 41.0, 40.5, 39.5, 40.0, 42.0, 38.0, 40.0, 41.0]


def test_verdict_holds_with_nine_wins_and_a_wide_gap():
    change = [32.0] * 9 + [45.0]  # the last pair is lost
    v = ab.verdict(PARENT, change, "lower")
    assert (v["wins"], v["pairs"]) == (9, 10)
    assert v["parent_iqr"] == pytest.approx(40.875 - 39.625)
    assert v["median_gap"] == pytest.approx(8.0)
    assert v["holds"]


def test_verdict_fails_on_eight_wins():
    change = [32.0] * 8 + [45.0, 45.0]
    assert not ab.verdict(PARENT, change, "lower")["holds"]


def test_verdict_fails_when_gap_is_within_parent_spread():
    change = [p - 0.5 for p in PARENT]  # wins every pair, by too little
    v = ab.verdict(PARENT, change, "lower")
    assert v["wins"] == 10 and not v["holds"]


def test_verdict_for_higher_is_better():
    change = [p + 5 for p in PARENT]
    assert ab.verdict(PARENT, change, "higher")["holds"]
    assert not ab.verdict(PARENT, change, "lower")["holds"]
