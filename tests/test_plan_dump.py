"""tools/plan_dump.py: session-history ids are renumbered so dumps of
the same plan are byte-equal.  No SparkSession needed."""

from __future__ import annotations

import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

from plan_dump import renumber_ids  # noqa: E402

# the same two operators as dumped by two sessions with different history
_FIRST = """\
(1) Scan ExistingRDD
Output [3]: [fa#12, fb#13, hv#14L]
Arguments: [fa#12, fb#13, hv#14L], MapPartitionsRDD[34] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(5) Exchange
Input [2]: [fa#12, hv#14L]
Arguments: hashpartitioning(fa#12, 32), ENSURE_REQUIREMENTS, [plan_id=463]

(8) Scan ExistingRDD
Output [2]: [l_returnflag#27, hv#28L]
Arguments: [l_returnflag#27, hv#28L], MapPartitionsRDD[19] at localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(14) BroadcastExchange
Input [2]: [l_returnflag#27, hv#28L]
Arguments: HashedRelationBroadcastMode(List(input[0, string, true]),false), [plan_id=465]
"""
_SECOND = (
    _FIRST.replace("#12", "#512").replace("#13", "#513").replace("#14L", "#9L")
    .replace("#27", "#600").replace("#28L", "#601L")
    .replace("RDD[34]", "RDD[404]").replace("RDD[19]", "RDD[7]")
    .replace("plan_id=463", "plan_id=1").replace("plan_id=465", "plan_id=2")
)


def test_same_plan_from_different_sessions_dumps_equal():
    assert _FIRST != _SECOND
    assert renumber_ids(_FIRST) == renumber_ids(_SECOND)


def test_ids_renumber_by_first_appearance_and_keep_cross_references():
    out = renumber_ids(_FIRST)
    assert "Output [3]: [fa#0, fb#1, hv#2L]" in out
    assert "hashpartitioning(fa#0, 32), ENSURE_REQUIREMENTS, [plan_id=0]" in out
    assert "Output [2]: [l_returnflag#3, hv#4L]" in out
    assert "MapPartitionsRDD[0] at localCheckpoint" in out
    assert "MapPartitionsRDD[1] at localCheckpoint" in out
    assert "[plan_id=1]" in out
    # operator numbers, column counts and input ordinals are not ids
    assert "(14) BroadcastExchange" in out and "input[0, string, true]" in out


def test_a_changed_column_reference_still_differs():
    # the Exchange now hashes fb instead of fa: a real plan change
    changed = _FIRST.replace("hashpartitioning(fa#12", "hashpartitioning(fb#13")
    assert renumber_ids(changed) != renumber_ids(_FIRST)
