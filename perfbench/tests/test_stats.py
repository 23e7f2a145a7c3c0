import pytest

from perfbench.stats import (
    percentile,
    quartile_spread,
    ratio,
    samples_beyond,
    self_time_by_layer,
    self_times,
    summarize_ms,
    tail_percentile,
)


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(list(range(11)), 90) == pytest.approx(9.0)


def test_samples_beyond_counts_strictly_above_the_rank():
    assert samples_beyond(20, 50) == 10  # rank 9.5 -> indices 10..19
    assert samples_beyond(100, 90) == 10  # rank 89.1 -> indices 90..99
    assert samples_beyond(39, 75) == 10  # rank 28.5 -> indices 29..38


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 50.0), (39, 75.0), (40, 75.0),
     (99, 90.0), (100, 90.0), (180, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert samples_beyond(n, expected) >= 10


def test_summary_states_the_sample_count_and_only_a_supported_tail():
    few = summarize_ms([0.001 * i for i in range(1, 20)])
    assert few["n"] == 19 and "tail_ms" not in few
    many = summarize_ms([0.001 * i for i in range(1, 101)])
    assert many["n"] == 100
    assert many["tail_pct"] == 90.0
    assert many["tail_ms"] == pytest.approx(90.1)
    assert many["p50_ms"] == pytest.approx(50.5)


def test_ratio_carries_its_base():
    assert ratio(3, 4) == {"value": 0.75, "num": 3, "base": 4}
    assert ratio(0, 4)["value"] == 0.0
    assert ratio(1, 0) == {"value": None, "num": 1, "base": 0}


def test_quartile_spread_is_iqr_over_median():
    assert quartile_spread([10.0] * 10) == 0.0
    vals = [float(v) for v in range(1, 11)]
    # statistics.quantiles(n=4) -> 2.75, 5.5, 8.25
    assert quartile_spread(vals) == pytest.approx((8.25 - 2.75) / 5.5)


def _span(i, start, end, parent=None, name="x.y"):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "op": 0}


def test_self_time_subtracts_children_once_and_clips_to_the_parent():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps child 1: [1, 5] counts once
        _span(3, 8.0, 12.0, parent=0),  # runs past the parent: clipped at 10
        _span(4, 1.5, 2.5, parent=1),  # grandchild: only child 1 loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_self_times_sum_to_the_root_duration():
    spans = [
        _span(0, 0.0, 10.0, name="search.executor.search"),
        _span(1, 1.0, 4.0, parent=0, name="index.segments.term_stats"),
        _span(2, 4.0, 6.0, parent=0, name="index.segments.split_meta"),
        _span(3, 4.5, 5.0, parent=2, name="index.segments.buckets_of"),
    ]
    by_layer = self_time_by_layer(spans)
    assert by_layer == pytest.approx({"search": 5.0, "index": 5.0})
    assert sum(self_times(spans).values()) == pytest.approx(10.0)
