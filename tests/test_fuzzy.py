"""Kernel tests for the fuzzy similarity family (SURVEY.md J1 semantics)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mass_georeferencing_spark.functions.fuzzy import (
    indel_distance,
    lcs_len,
    partial_ratio,
    ratio,
    token_set_ratio,
)


def lcs_dp(a: str, b: str) -> int:
    m, n = len(a), len(b)
    prev = [0] * (n + 1)
    for i in range(m):
        cur = [0] * (n + 1)
        for j in range(n):
            cur[j + 1] = prev[j] + 1 if a[i] == b[j] else max(prev[j + 1], cur[j])
        prev = cur
    return prev[n]


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="abcde ", max_size=24),
    st.text(alphabet="abcde ", max_size=24),
)
def test_lcs_matches_dp(a, b):
    assert lcs_len(a, b) == lcs_dp(a, b)


def test_ratio_basics():
    assert ratio("", "") == 100.0
    assert ratio("abc", "") == 0.0
    assert ratio("abc", "abc") == 100.0
    # indel: "abcd" vs "abce" -> LCS 3, ratio 2*3/8*100 = 75
    assert ratio("abcd", "abce") == 75.0
    assert indel_distance("abcd", "abce") == 2


def test_partial_ratio_substring():
    assert partial_ratio("yosemite", "yosemite national park") == 100.0
    assert partial_ratio("yosemite national park", "yosemite") == 100.0  # symmetric
    assert partial_ratio("", "") == 100.0
    assert partial_ratio("", "abc") == 0.0


def test_partial_ratio_window():
    # best window of len 3 in "xxabyy" for "aby" is "aby" itself -> 100
    assert partial_ratio("aby", "xxabyy") == 100.0
    # "abc" vs "xbcx": windows xbc(ratio 2/3), bcx(2/3) -> 66.67
    assert partial_ratio("abc", "xbcx") == pytest.approx(200 * 2 / 6, abs=1e-9)


@settings(max_examples=200, deadline=None)
@given(
    st.text(alphabet="abcd ", max_size=16),
    st.text(alphabet="abcd ", max_size=16),
)
def test_partial_ratio_bounds_and_symmetry(a, b):
    p = partial_ratio(a, b)
    assert 0.0 <= p <= 100.0
    assert p == partial_ratio(b, a)
    # partial_ratio >= ratio when lengths are equal (window = whole string)
    if len(a) == len(b):
        assert p >= ratio(a, b) - 1e-9


def test_token_set_ratio():
    assert token_set_ratio("national park yosemite", "yosemite national park") == 100.0
    assert token_set_ratio("", "") == 100.0
    assert token_set_ratio("", "x") == 0.0  # one-side-empty guard
    assert token_set_ratio("x", "") == 0.0
    # shared token subset -> high but < 100
    v = token_set_ratio("lake tahoe", "tahoe city")
    assert 0 < v < 100

