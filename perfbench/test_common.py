"""Self-tests for the benchmark's pure helpers.

Run from the repository root::

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from common import (  # noqa: E402
    check_delivery,
    event_log_files,
    exec_summary,
    expected_delivery,
    job_groups,
    lateness,
    percentile,
    read_events,
    stage_table,
    summarize,
    tail_percentile,
    tick_schedule,
)

EVENT_LOG_DIR = os.path.join(HERE, "testdata")
EVENT_LOG_APP = "local-1700000000000"


# -- percentile rule ---------------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [
        (100_000, 99.9),  # 100 samples beyond p99.9
        (10_000, 99.9),  # exactly 10 beyond
        (9_999, 99.0),
        (1_000, 99.0),  # exactly 10 beyond
        (999, 95.0),
        (22, 50.0),  # a 22-query pass supports only the median
        (19, None),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_summarize_reports_tail_with_count():
    s = summarize([float(i) for i in range(1000)])
    assert s["n"] == 1000
    assert s["tail_pct"] == 99.0
    assert s["tail"] == s["p99"] == 989.0
    assert summarize([]) == {"n": 0}


# -- open-loop schedule ----------------------------------------------------


def test_tick_schedule_even_rate():
    sched = tick_schedule(5000, 1.0, 0.01)
    assert len(sched) == 100
    assert all(n == 50 for _, n in sched)
    assert sched[0][0] == 0.0
    assert sched[-1][0] == pytest.approx(0.99)


def test_tick_schedule_uneven_rate_never_drifts():
    sched = tick_schedule(333, 2.0, 0.01)
    counts = [n for _, n in sched]
    assert sum(counts) == 666
    assert set(counts) <= {3, 4}
    running = 0
    for i, n in enumerate(counts):
        running += n
        assert running == round(333 * 0.01 * (i + 1))


def test_schedule_depends_only_on_arguments():
    assert tick_schedule(5000, 3.0, 0.01) == tick_schedule(5000, 3.0, 0.01)
    offsets = [o for o, _ in tick_schedule(100, 1.0, 0.1)]
    assert offsets == pytest.approx([i * 0.1 for i in range(10)])


def test_lateness_counts_only_late_sends():
    due = [0.0, 1.0, 2.0, 3.0]
    actual = [0.0, 0.9, 2.5, 3.25]
    assert lateness(due, actual) == [0.0, 0.0, 0.5, 0.25]


def test_generator_sends_the_schedule(tmp_path):
    import generator

    stats = generator.run(str(tmp_path), seed=3, rate=2000, seconds=0.2, num_shards=4)
    assert stats["sent"] == 400
    assert stats["ticks"] == 20
    lines = []
    for name in sorted(os.listdir(tmp_path)):
        with open(tmp_path / name, encoding="utf-8") as f:
            lines += [json.loads(line) for line in f]
    assert len(lines) == 400
    assert {"pk", "data", "ts"} <= set(lines[0])
    assert stats["late_max_s"] >= 0


def test_generator_records_repeat_per_seed():
    import generator

    a = generator.make_records(5, 500, 8)
    assert a == generator.make_records(5, 500, 8)
    assert a != generator.make_records(6, 500, 8)
    invalid = [d for _, _, d in a if not d.startswith("{")]
    assert 0 < len(invalid) < 25  # about 1%


# -- expected-delivery model -------------------------------------------------


def test_expected_delivery_uses_line_index_as_sequence():
    logs = {"shardId-000000000000": ["a", "b", "a"], "shardId-000000000001": ["b"]}
    got = expected_delivery(logs, lambda p: p == "a")
    assert got == {("shardId-000000000000", 0), ("shardId-000000000000", 2)}


def test_expected_delivery_passes_non_objects_through_the_filter():
    from decisions_kinesis_spark.config import FilterVerb, PayloadFilter
    from decisions_kinesis_spark.functions.filters import payload_filters_py

    filters = [
        PayloadFilter("k", FilterVerb.GREATER_THAN, "50"),
        PayloadFilter("event_type", FilterVerb.EQUALS_CI, "PURCHASE"),
    ]
    logs = {"s": ['{"k": 7, "event_type": "view"}', '{"k": 10, "event_type": "view"}',
                  '{"k": 10, "event_type": "Purchase"}', "not-json-1", "[1, 2]"]}
    got = expected_delivery(logs, lambda p: payload_filters_py(p, filters, True))
    # "7" > "50" as strings; "10" < "50"; the last two are not JSON objects
    assert got == {("s", 0), ("s", 2), ("s", 3), ("s", 4)}


def test_check_delivery_clean():
    expected = {("a", 0), ("a", 1), ("b", 0)}
    v = check_delivery(expected, [("a", 0, 0), ("b", 0, 0), ("a", 1, 1)])
    assert v == {"missing": 0, "extra": 0, "duplicates": 0, "order_violations": 0,
                 "mismatches": 0}


def test_check_delivery_counts_each_fault():
    expected = {("a", 0), ("a", 1), ("a", 2), ("b", 0)}
    delivered = [
        ("a", 2, 0),  # shard a runs backwards: epoch 0 has seq 2 ...
        ("a", 1, 1),  # ... epoch 1 has seq 1
        ("a", 1, 1),  # duplicate
        ("b", 5, 0),  # not expected
    ]
    v = check_delivery(expected, delivered)
    assert v["missing"] == 2  # ("a", 0), ("b", 0)
    assert v["extra"] == 1
    assert v["duplicates"] == 1
    assert v["order_violations"] == 1
    assert v["mismatches"] == 5


# -- event-log stage parser ----------------------------------------------------


def _events():
    return list(read_events(event_log_files(EVENT_LOG_DIR, EVENT_LOG_APP)))


def test_event_log_files_finds_rolling_layout():
    files = event_log_files(EVENT_LOG_DIR, EVENT_LOG_APP)
    assert [os.path.basename(p) for p in files] == [f"events_1_{EVENT_LOG_APP}"]
    assert event_log_files(EVENT_LOG_DIR, "no-such-app") == []


def test_stage_table_sums_task_metrics_per_stage():
    stages = stage_table(_events())
    assert sorted(stages) == [0, 1, 2]
    s0, s1, s2 = stages[0], stages[1], stages[2]
    assert (s0["group"], s1["group"], s2["group"]) == ("w:q:build", "w:q:exec", "w:q:exec")
    assert (s0["tasks"], s1["tasks"], s2["tasks"]) == (2, 2, 1)
    assert s0["run_ms"] == 30 and s0["cpu_ns"] == 20_000_000
    assert s0["input_bytes"] == 3000
    assert s1["shuffle_write_bytes"] == 700
    assert s2["shuffle_read_bytes"] == 700
    assert s2["spill_bytes"] == 64
    assert s2["submit_ms"] == 1_700_000_001_000


def test_exec_summary_flags_slow_single_task_stage():
    ex = exec_summary(list(stage_table(_events()).values()))
    assert ex["exec.stages"] == 3
    assert ex["exec.tasks"] == 5
    assert ex["exec.executor_run_s"] == pytest.approx(0.03 + 0.04 + 0.9)
    assert ex["exec.shuffle_write_bytes"] == ex["exec.shuffle_read_bytes"] == 700
    assert ex["exec.single_task_stages_slow"] == 1


def test_job_groups_counts_jobs():
    assert job_groups(_events()) == {"w:q:build": 1, "w:q:exec": 1}


# -- process tree -------------------------------------------------------------


STOP_SCRIPT = """
import json, os, subprocess, time
from common import become_subreaper, descendants, stop_descendants
become_subreaper()
subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60"])
deadline = time.monotonic() + 10
while len(descendants(os.getpid())) < 3 and time.monotonic() < deadline:
    time.sleep(0.01)
started = descendants(os.getpid())
stop_descendants(grace_s=5)
print(json.dumps([started, [p for p in started if os.path.exists(f"/proc/{p}")]]))
"""


def test_stop_descendants_ends_and_reaps_the_whole_tree():
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", STOP_SCRIPT], cwd=HERE, capture_output=True, text=True, timeout=60
    )
    started, left = json.loads(out.stdout)
    assert len(started) == 3  # sh and its two sleeps
    assert left == []  # ended and reaped, none left as a zombie


# -- BENCHMARK.json matches the code -------------------------------------------


def test_benchmark_json_names_what_the_command_emits():
    import workloads

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
