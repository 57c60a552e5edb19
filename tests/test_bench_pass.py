"""bench.py's per-query timing rule (``best_pass``) with a fake pass
function.  No SparkSession needed."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import best_pass  # noqa: E402


def _passes(*seconds):
    it = iter(seconds)
    calls = []

    def one_pass():
        calls.append(1)
        return next(it)

    return one_pass, calls


def test_two_passes_when_they_agree():
    one_pass, calls = _passes(1.5, 1.0, 0.1)
    assert best_pass(one_pass) == (1.5, 1.0)
    assert len(calls) == 2


def test_exactly_2x_apart_takes_no_third_pass():
    one_pass, calls = _passes(1.0, 2.0, 0.1)
    assert best_pass(one_pass) == (1.0, 1.0)
    assert len(calls) == 2


def test_third_pass_when_cold_is_over_2x_warm():
    one_pass, calls = _passes(3.0, 1.0, 0.8)
    assert best_pass(one_pass) == (3.0, 0.8)
    assert len(calls) == 3


def test_third_pass_when_warm_stalls_and_min_wins():
    # the third pass is slower than the cold one: min keeps the cold
    one_pass, calls = _passes(1.0, 5.0, 1.2)
    assert best_pass(one_pass) == (1.0, 1.0)
    assert len(calls) == 3
