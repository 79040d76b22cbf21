import pytest

from stats import percentile, summarize, tail_label, tail_percentile


@pytest.mark.parametrize("n,q", [
    (10_000, 0.999), (1_000, 0.99), (999, 0.95), (200, 0.95), (100, 0.9),
    (99, 0.75), (40, 0.75), (39, 0.5), (20, 0.5), (19, None), (0, None),
])
def test_tail_has_at_least_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q
    if q is not None:
        assert sum(1 for i in range(n) if i >= n * q) >= 10


def test_percentile_interpolates():
    assert percentile([4, 1, 3, 2], 0.5) == 2.5
    assert percentile([1, 2, 3, 4, 5], 0.75) == 4
    assert percentile([7], 0.9) == 7


def test_summarize_names_the_supported_tail():
    out = summarize([float(i) for i in range(100)])
    assert out["n"] == 100 and out["p50"] == 49.5 and "p90" in out
    assert set(summarize([1.0] * 25)) == {"n", "p50"}
    assert tail_label(0.999) == "p99.9" and tail_label(0.9) == "p90"
