import statistics

import pytest

import stats


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)  # rank 90, 9 beyond
    assert stats.percentile(list(range(1, 101)), 90) == 90.0  # 10 beyond
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 50)
    assert stats.percentile(list(range(1, 21)), 50) == 10.0
    with pytest.raises(ValueError):
        stats.percentile(list(range(999)), 99)


def test_highest_percentile_steps_down():
    assert stats.highest_percentile(list(range(5))) is None
    assert stats.highest_percentile(list(range(1, 21)))[0] == 50
    assert stats.highest_percentile(list(range(1, 101)))[0] == 90
    assert stats.highest_percentile(list(range(1, 1001)))[0] == 99


def test_quartiles_match_statistics():
    v = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
    assert stats.quartiles(v) == tuple(statistics.quantiles(v, n=4))
    assert stats.quartiles([2.0]) == (2.0, 2.0, 2.0)
    q1, q2, q3 = stats.quartiles(v)
    assert stats.spread(v) == pytest.approx((q3 - q1) / q2)


def test_verdict_rule():
    base = [10.0 + 0.1 * i for i in range(10)]
    faster = [x * 0.8 for x in base]
    assert stats.verdict(base, faster, "lower", 0.1)[0] == "better"
    assert stats.verdict(base, [x * 1.3 for x in base], "lower", 0.1)[0] == "worse"
    assert stats.verdict(base, list(reversed(base)), "lower", 0.1)[0] == "same"
    noisy = [10.0, 20.0, 5.0, 15.0, 8.0, 30.0, 12.0, 6.0, 25.0, 9.0]
    assert stats.verdict(noisy, noisy[1:] + noisy[:1], "lower", 0.1)[0] == "unresolved"
    # higher-is-better mirrors
    assert stats.verdict(base, faster, "higher", 0.1)[0] == "worse"
    verdict, wins, pairs = stats.verdict(base, faster, "lower", 0.1)
    assert (wins, pairs) == (10, 10)
