"""Percentile rule, quartiles and the oracle comparator."""

import math
import statistics

from perfbench.stats import (NAN, canon_rows, canon_value, highest_percentile,
                             percentile, quartiles, summarize)


def test_highest_percentile_keeps_ten_samples_beyond():
    assert highest_percentile(10) is None
    for n in (11, 20, 37, 100, 1000, 1234):
        p = highest_percentile(n)
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10
    assert highest_percentile(20) == 50
    assert highest_percentile(100) == 90
    assert highest_percentile(1000) == 99


def test_quartiles_match_statistics_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_summarize_states_n_and_tail():
    s = summarize([float(i) for i in range(1, 21)])
    assert s["n"] == 20 and s["median"] == 10.5
    assert s["p_tail"] == 50 and s["p_tail_value"] == percentile(
        [float(i) for i in range(1, 21)], 50)
    assert summarize([1.0, 2.0])["p_tail"] is None


def test_nan_has_its_own_sign_free_sentinel():
    assert canon_value(float("nan")) == NAN
    assert canon_value(-float("nan")) == NAN
    assert canon_value(float("nan")) != canon_value(math.inf)
    assert canon_value(float("nan")) != canon_value(-math.inf)
    assert canon_value(0.0) != canon_value(-0.0)


def test_rows_compare_as_multisets():
    a = [(1, 2.5, b"x"), (1, 2.5, b"x"), (2, float("nan"), None)]
    b = [(2, float("nan"), None), (1, 2.5, bytearray(b"x")), (1, 2.5, b"x")]
    assert canon_rows(a) == canon_rows(b)
    assert canon_rows(a) != canon_rows(a[:2])
    assert canon_rows([(float("nan"),)]) != canon_rows([(math.inf,)])
