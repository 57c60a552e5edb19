"""tools/proc_cpu.py: interval deltas and span splitting on synthetic samples."""

from __future__ import annotations

import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

from proc_cpu import intervals, report, split  # noqa: E402


def _samples():
    # (t, {id: (class, cumulative CPU seconds)})
    return [
        (0.0, {1: ("driver", 1.0), 10: ("jvm:Executor task l", 5.0)}),
        (1.0, {1: ("driver", 1.5), 10: ("jvm:Executor task l", 6.0)}),
        # a Python worker appears (counts from 0); pid 1 execs into a
        # new class and keeps its CPU: only the delta counts
        (2.0, {1: ("other", 1.75), 10: ("jvm:Executor task l", 8.0), 20: ("python-workers", 0.5)}),
        # the worker exits: its last interval is lost, nothing goes negative
        (3.0, {1: ("other", 2.0), 10: ("jvm:Executor task l", 8.0)}),
    ]


def test_intervals_are_per_id_deltas():
    iv = intervals(_samples())
    assert [(t0, t1) for t0, t1, _ in iv] == [(0.0, 1.0), (1.0, 2.0), (2.0, 3.0)]
    assert iv[0][2] == {"driver": 0.5, "jvm:Executor task l": 1.0}
    assert iv[1][2] == {"other": 0.25, "jvm:Executor task l": 2.0, "python-workers": 0.5}
    assert iv[2][2] == {"other": 0.25}


def test_split_assigns_intervals_by_midpoint():
    spans = [
        {"name": "pass", "start": 0.9, "end": 3.0},
        {"name": "tail", "start": 1.6, "end": 1.9},  # holds no midpoint
        {"name": "tail", "start": 2.0, "end": 2.6},  # spans of one name add up
        {"name": "open", "start": 2.0, "end": None},  # unfinished: never matches
    ]
    got = split(intervals(_samples()), spans)
    assert got["(run)"] == {
        "driver": 0.5, "jvm:Executor task l": 3.0, "other": 0.5, "python-workers": 0.5
    }
    # midpoints 1.5 and 2.5 fall in it, 0.5 does not
    assert got["pass"] == {"jvm:Executor task l": 2.0, "other": 0.5, "python-workers": 0.5}
    assert got["tail"] == {"other": 0.25}
    assert "open" not in got
    assert split([], spans) == {"(run)": {}}


def test_report_rows_and_columns():
    table = split(intervals(_samples()), [{"name": "pass", "start": 1.0, "end": 3.0}])
    lines = report(table, min_s=0.5).splitlines()
    assert lines[0].split() == ["class", "(run)", "pass"]
    rows = {ln[:22].strip(): [float(v) for v in ln[22:].split()] for ln in lines[1:]}
    # busiest first; classes under min_s are left out of the rows but
    # not out of the total
    assert list(rows) == ["jvm:Executor task l", "driver", "other", "python-workers", "total"]
    assert rows["jvm:Executor task l"] == [3.0, 2.0]
    assert rows["total"] == [4.5, 3.0]
    assert "driver" not in report(table, min_s=0.6)
