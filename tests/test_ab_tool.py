"""tools/ab.py: arm specs, the value check, and one two-arm smoke run."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from conftest import SF_SMOKE

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

from ab import Arm, canonical_rows, parse_arm, phase_counts, value_diff  # noqa: E402


def test_arm_specs_parse():
    assert parse_arm("head") == Arm("head")
    assert parse_arm("lazy") == Arm("lazy", lazy=True)
    assert parse_arm("ref:HEAD~1") == Arm("ref:HEAD~1", ref="HEAD~1")
    assert parse_arm("conf:spark.sql.adaptive.enabled=false") == Arm(
        "conf:spark.sql.adaptive.enabled=false", conf=("spark.sql.adaptive.enabled", "false")
    )
    assert parse_arm("conf:k=a=b").conf == ("k", "a=b")
    for bad in ("", "ref:", "conf:k", "conf:=v", "HEAD", "lazy:1"):
        with pytest.raises(ValueError):
            parse_arm(bad)


def test_one_value_difference_is_a_mismatch():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (float("nan"), "z")]
    other = [(1, "x"), (3, "y"), (float("nan"), "z")]
    # column order and row order do not matter; NaN equals NaN
    same = canonical_rows(["a", "b"], [(r[1], r[0]) for r in reversed(rows)])
    assert value_diff(canonical_rows(cols, rows), same) is None
    diff = value_diff(canonical_rows(cols, rows), canonical_rows(cols, other))
    assert diff is not None
    assert "('y', 2)" in diff and "('y', 3)" in diff


def _write_log(log_dir, app, jobs, half_line=False):
    """One session's rolling event log: ``jobs`` maps a job group to the
    (stage id, task count) pairs its one job ran."""
    d = log_dir / f"eventlog_v2_{app}"
    d.mkdir(parents=True)
    lines = []
    for group, stages in jobs.items():
        lines.append({"Event": "SparkListenerJobStart", "Stage IDs": [s for s, _ in stages],
                      "Properties": {"spark.jobGroup.id": group}})
        for sid, tasks in stages:
            lines += [{"Event": "SparkListenerTaskEnd", "Stage ID": sid}] * tasks
    text = "".join(json.dumps(x) + "\n" for x in lines)
    (d / f"events_1_{app}").write_text(text + ('{"Event": "Spark' if half_line else ""))


def test_phase_counts_reads_each_session_apart(tmp_path):
    # a restarted worker's second session reuses stage ids 0 and 1
    _write_log(tmp_path, "app-1", {"ab:q:r0:build": [(0, 2)], "ab:q:r0:exec": [(1, 3)]},
               half_line=True)
    _write_log(tmp_path, "app-2", {"ab:p:r0:exec": [(0, 5), (1, 1)]})
    counts = phase_counts(str(tmp_path), ["app-1", "app-2"])
    assert counts["ab:q:r0:build"] == {"jobs": 1, "stages": 1, "tasks": 2}
    assert counts["ab:q:r0:exec"] == {"jobs": 1, "stages": 1, "tasks": 3}
    assert counts["ab:p:r0:exec"] == {"jobs": 1, "stages": 2, "tasks": 6}


def test_head_vs_lazy_smoke():
    # the dks_kinesis scan runs package code in Spark's Python workers
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "ab.py"), "--arm", "head", "--arm", "lazy",
         "--n", "1", "q11_important_parts", "pyds_kinesis_shard_scan"],
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_SMOKE},
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert lines[0].startswith("q11_important_parts: values equal"), proc.stdout
    assert lines[8].startswith("pyds_kinesis_shard_scan: values equal"), proc.stdout
    # "  <arm> <phase> <best> <jobs> <stages> <tasks>  [<seconds>]", one run each
    rows = {tuple(ln.split()[:2]): ln.split() for ln in lines[2:8]}
    assert set(rows) == {(a, p) for a in ("head", "lazy") for p in ("build", "exec", "total")}
    assert int(rows["head", "build"][3]) >= 1
    assert int(rows["lazy", "build"][3]) == 0
