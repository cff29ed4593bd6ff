"""Tests of the steadiness check's verdict (no runs needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from steady import agree, stats  # noqa: E402

LOWER = {"name": "latency_p50_s", "better": "lower", "bound": 0.1}
HIGHER = {"name": "ops_per_s", "better": "higher", "bound": 0.1}
SETUP = {"name": "setup_s", "better": "lower", "bound": 0.1}

STEADY = [10.0, 10.1, 9.9, 10.0, 10.05]


def test_stats_uses_the_statistics_quartiles():
    med, q1, q3, spread = stats([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (med, q1, q3) == (3.0, 1.5, 4.5)
    assert spread == 1.0


def test_close_sets_agree():
    ok, verdict = agree(LOWER, STEADY, [x * 1.03 for x in STEADY])
    assert ok, verdict


def test_medians_apart_disagree_in_either_direction():
    for metric in (LOWER, HIGHER):
        for factor in (1.2, 0.8):
            ok, verdict = agree(metric, STEADY, [x * factor for x in STEADY])
            assert not ok and "medians apart" in verdict


def test_wide_spread_disagrees_for_every_metric_setup_too():
    wide = [5.0, 8.0, 10.0, 12.0, 15.0]
    for metric in (LOWER, HIGHER, SETUP):
        ok, verdict = agree(metric, STEADY, wide)
        assert not ok and "set 2 spread" in verdict
