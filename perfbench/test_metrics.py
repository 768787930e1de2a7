"""Tests of the benchmark's metric arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def test_median_of_warm_passes():
    assert metrics.median([3.0, 1.0, 2.0]) == 2.0
    assert metrics.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    # one disturbed pass does not move the median of an odd count
    assert metrics.median([1.0, 1.1, 9.0]) == 1.1
    with pytest.raises(ValueError):
        metrics.median([])


def test_tail_percentile_needs_ten_samples_beyond():
    assert metrics.tail_percentile([1.0] * 10) is None
    # 11 samples: only rank 1 leaves 10 beyond it
    p, v = metrics.tail_percentile([float(i) for i in range(1, 12)])
    assert (p, v) == (9, 1.0)
    # 100 samples: p90 has exactly 10 beyond, p91 only 9
    samples = [float(i) for i in range(100, 0, -1)]
    assert metrics.tail_percentile(samples) == (90, 90.0)
    # 1000 samples: p99 has 10 beyond
    assert metrics.tail_percentile([float(i) for i in range(1, 1001)]) == (99, 990.0)


def test_tail_percentile_rule_holds_for_every_count():
    for n in range(11, 400):
        p, _ = metrics.tail_percentile([0.0] * n)
        rank = math.ceil(p / 100 * n)
        assert n - rank >= 10
        if p < 99:
            assert n - math.ceil((p + 1) / 100 * n) < 10


def test_rate_is_items_over_seconds():
    assert metrics.rate(520_600, 2.6753) == pytest.approx(194_594.1, rel=1e-5)
    assert metrics.rate(0, 1.0) == 0.0
    for bad in (0.0, -1.0):
        with pytest.raises(ValueError):
            metrics.rate(10, bad)


def test_failed_share():
    assert metrics.failed_share(0, 31) == 0.0
    assert metrics.failed_share(1, 4) == 0.25
    with pytest.raises(ValueError):
        metrics.failed_share(0, 0)
    with pytest.raises(ValueError):
        metrics.failed_share(5, 4)


def test_overhead_is_traced_minus_untraced():
    diff, share = metrics.overhead(2.2, 2.0)
    assert diff == pytest.approx(0.2)
    assert share == pytest.approx(0.1)


def test_benchmark_json_names_every_layer():
    import workloads

    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYERS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
