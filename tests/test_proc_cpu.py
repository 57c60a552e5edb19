"""tools/proc_cpu.py: interval deltas, span splitting and the
per-process table on synthetic samples."""

from __future__ import annotations

import os
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

from proc_cpu import intervals, process_table, python_command, report, split  # noqa: E402


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


BOOT = "/repo/decisions_kinesis_spark/_worker_boot.py"


def test_python_command_parses_plain_and_boot_starts():
    assert python_command("python -m pyspark.daemon pyspark.worker") == (
        "-m", "pyspark.daemon pyspark.worker"
    )
    assert python_command(f"/usr/bin/python3.11 {BOOT} -m pyspark.daemon pyspark.worker") == (
        "boot", "pyspark.daemon pyspark.worker"
    )
    assert python_command(
        f"python {BOOT} -m pyspark.sql.streaming.python_streaming_source_runner"
    ) == ("boot", "pyspark.sql.streaming.python_streaming_source_runner")
    assert python_command("python3 perfbench/run.py --seed 1") == ("script", "perfbench/run.py")
    # the launcher's shell before its exec, a JVM, an exited process
    assert python_command("/bin/sh /repo/_worker_python -m pyspark.daemon x") is None
    assert python_command("/usr/bin/java -cp x Main") is None
    assert python_command("") is None


def test_process_table_rows_in_start_order():
    samples = [
        (10.0, {1: ("driver", 1.0), 7: ("jvm:main", 3.0)}),
        (10.5, {1: ("driver", 1.5), 7: ("jvm:main", 3.5), 30: ("python-workers", 0.2)}),
        (11.0, {1: ("driver", 2.0), 30: ("python-workers", 0.8), 20: ("python-workers", 0.1)}),
    ]
    cmdlines = {
        1: "python3 perfbench/run.py",
        7: "/usr/bin/java -cp x Main",
        30: f"python {BOOT} -m pyspark.daemon pyspark.worker",
        20: "python -m pyspark.daemon pyspark.sql.worker.lookup_data_sources",
    }
    lines = process_table(samples, cmdlines, t_start=9.5).splitlines()
    assert lines[0].split() == ["pid", "how", "start_s", "cpu_s", "module"]
    assert [ln.split() for ln in lines[1:]] == [
        ["1", "script", "0.5", "2.00", "perfbench/run.py"],
        ["30", "boot", "1.0", "0.80", "pyspark.daemon", "pyspark.worker"],
        ["20", "-m", "1.5", "0.10", "pyspark.daemon", "pyspark.sql.worker.lookup_data_sources"],
    ]
