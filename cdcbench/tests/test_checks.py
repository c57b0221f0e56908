"""Result comparison: order-insensitive, columns by sorted name."""

import math

import pandas as pd

from checks import frames_mismatch


def test_row_and_column_order_do_not_matter():
    a = pd.DataFrame({"k": [1, 2], "v": ["x", "y"]})
    b = pd.DataFrame({"v": ["y", "x"], "k": [2, 1]})
    assert frames_mismatch(a, b) is None


def test_column_sets_must_match():
    a = pd.DataFrame({"k": [1]})
    b = pd.DataFrame({"key": [1]})
    assert "columns" in frames_mismatch(a, b)


def test_row_counts_must_match():
    a = pd.DataFrame({"k": [1, 1]})
    b = pd.DataFrame({"k": [1]})
    assert "row count" in frames_mismatch(a, b)


def test_floats_compare_with_tolerance_and_nan_equals_nan():
    a = pd.DataFrame({"v": [1.0, math.nan]})
    assert frames_mismatch(a, pd.DataFrame({"v": [1.0 + 1e-15, math.nan]})) is None
    assert frames_mismatch(a, pd.DataFrame({"v": [1.0001, math.nan]})) is not None


def test_values_compare_by_string_form():
    a = pd.DataFrame({"v": ["1", "2"]})
    assert frames_mismatch(a, pd.DataFrame({"v": ["1", "3"]})) is not None
