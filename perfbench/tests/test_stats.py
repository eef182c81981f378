import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import (  # noqa: E402
    interval_union_length,
    open_loop_latency,
    percentile,
    samples_beyond,
)


@pytest.mark.parametrize("n", [1, 2, 7, 200, 1001])
@pytest.mark.parametrize("p", [0, 50, 90, 95, 99, 100])
def test_percentile_matches_numpy_linear(n, p):
    xs = np.random.default_rng(n).random(n).tolist()
    assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)), rel=1e-12)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_ten_beyond_rule():
    # with interpolated percentiles, 182 samples are the fewest that put
    # 10 strictly beyond the 95th percentile's position
    assert samples_beyond(200, 95) == 10
    assert samples_beyond(182, 95) == 10
    assert samples_beyond(181, 95) == 9


def test_open_loop_latency_counts_from_due_time():
    # a request due at t=1.0 that the client only sent at t=1.5 (it was
    # stuck behind a stall) and that finished at t=1.6 took 0.6 s, not 0.1 s
    due, sent, end = 1.0, 1.5, 1.6
    assert open_loop_latency(due, end) == pytest.approx(0.6)
    assert open_loop_latency(due, end) > end - sent


def test_interval_union_counts_overlap_once_and_clips():
    assert interval_union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert interval_union_length([(0, 2), (1, 3)], lo=0.5, hi=2.5) == 2
    assert interval_union_length([(3, 1)]) == 0
    assert interval_union_length([]) == 0
