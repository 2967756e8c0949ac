import json
import math

import pytest

from stats import latency_summary, percentile, tail_percentile


@pytest.mark.parametrize("n,p", [
    (9, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90),
    (199, 90), (200, 95), (999, 95), (1000, 99), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_latency_summary_reports_supported_tail_and_count():
    s = latency_summary([float(x) for x in range(1, 41)])
    assert s["n"] == 40 and s["tail_p"] == 75 and s["tail"] == 30.0
    assert "tail" not in latency_summary([1.0, 2.0, 3.0])
    assert latency_summary([]) == {"n": 0, "failed": 0}


def test_failed_operations_miss_every_limit_and_stay_json():
    s = latency_summary([1.0, math.inf, math.inf])
    assert s == {"n": 3, "failed": 2, "p50": None}
    assert latency_summary([1.0, 2.0, math.inf])["p50"] == 2.0
    tail = latency_summary([float(x) for x in range(39)] + [math.inf])
    assert tail["tail_p"] == 75 and tail["tail"] == 29.0 and tail["failed"] == 1
    json.dumps(s, allow_nan=False)

