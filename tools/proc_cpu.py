"""Run a command; split its process tree's CPU by process class and span.

Python worker CPU is not in Spark's task metrics (``exec.executor_cpu_s``
is JVM task time), so this samples ``/proc`` every ``--interval`` s.
Classes: ``driver`` (the command), ``python-workers`` (``python -m
pyspark.*``: the daemon, its workers, the streaming source runner),
``generator`` (``generator.py``), ``other``, and one per JVM thread
name, ``jvm:<name>`` (``Executor task l`` is task code).  Each
interval's CPU goes to every span holding its midpoint, from the spans
file of a traced perfbench run (``.perfbench_out/<run>-spans.json`` or
``--spans``); ``(run)`` is the whole command.  A process that exits
loses at most its last interval.  The table goes to stderr.  Usage::

    python tools/proc_cpu.py -- python3 perfbench/run.py \\
        --workload kinesis_consumer --seed 13 --seconds 8 --trace 1
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, int, float] | None:
    """(comm, ppid, CPU seconds) from a /proc stat file; None for a
    zombie, whose CPU is its whole process's, already counted by thread."""
    try:
        with open(path, encoding="utf-8", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    comm, rest = raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()
    if rest[0] == "Z":
        return None
    return comm, int(rest[1]), (int(rest[11]) + int(rest[12])) / TICK


def classify(pid: int, root: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        cmdline = ""
    if pid == root:
        return "driver"
    if "-m pyspark." in cmdline:
        return "python-workers"
    if "generator.py" in cmdline:
        return "generator"
    return "jvm" if cmdline.split(" ", 1)[0].endswith("java") else "other"


def sample(root: int) -> dict[int, tuple[str, float]]:
    """(class, cumulative CPU seconds) of the tree under ``root``, keyed
    by pid or, for JVM threads, by tid: keyed by id, a process whose
    class changes (an exec) does not count its past CPU again."""
    stats = {}
    for d in glob.glob("/proc/[0-9]*/stat"):
        st = _stat(d)
        if st is not None:
            stats[int(d.split("/")[2])] = st
    tree, frontier = {root}, {root}
    while frontier:
        frontier = {p for p, st in stats.items() if st[1] in frontier and p not in tree}
        tree |= frontier
    out = {}
    for pid in tree & stats.keys():
        cls = classify(pid, root)
        if cls != "jvm":
            out[pid] = (cls, stats[pid][2])
            continue
        for t in glob.glob(f"/proc/{pid}/task/[0-9]*/stat"):
            st = _stat(t)
            if st is not None:
                name = re.sub(r"[\d#\s_-]+$", "", st[0]) or "?"
                out[int(t.split("/")[4])] = ("jvm:" + name, st[2])
    return out


def intervals(samples):
    """[(t0, t1, {class: CPU seconds spent in (t0, t1]})] from
    consecutive ``(t, sample)`` pairs; an id new at t1 counts from 0."""
    out = []
    for (t0, a), (t1, b) in zip(samples, samples[1:]):
        per: dict[str, float] = {}
        for key, (cls, v) in b.items():
            d = v - a.get(key, ("", 0.0))[1]
            if d > 0:
                per[cls] = per.get(cls, 0.0) + d
        out.append((t0, t1, per))
    return out


def split(ivals, spans) -> dict[str, dict[str, float]]:
    """CPU seconds per class inside each span name (spans of one name
    add up), plus ``(run)`` for the whole run."""
    out: dict[str, dict[str, float]] = {"(run)": {}}
    for t0, t1, per in ivals:
        mid = (t0 + t1) / 2
        names = ["(run)"] + [s["name"] for s in spans if s["start"] <= mid < (s["end"] or mid)]
        for name in dict.fromkeys(names):
            acc = out.setdefault(name, {})
            for cls, v in per.items():
                acc[cls] = acc.get(cls, 0.0) + v
    return out


def report(table: dict[str, dict[str, float]], min_s: float = 0.5) -> str:
    """A row per class with at least ``min_s`` CPU seconds in the whole
    run, busiest first, then the total; a column per span."""
    run = table["(run)"]
    rows = sorted((c for c in run if run[c] >= min_s), key=run.get, reverse=True)
    lines = ["class".ljust(22) + "".join(c[-18:].rjust(19) for c in table)]
    for row in rows + ["total"]:
        vals = [sum(t.values()) if row == "total" else t.get(row, 0.0) for t in table.values()]
        lines.append(row[:22].ljust(22) + "".join(f"{v:19.2f}" for v in vals))
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--interval", type=float, default=0.1)
    ap.add_argument("--spans", help="spans file (default: newest .perfbench_out/*-spans.json)")
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    a = ap.parse_args(argv)
    t_start = time.time()
    proc = subprocess.Popen(a.cmd[1:] if a.cmd[:1] == ["--"] else a.cmd)
    samples = []
    while proc.poll() is None:
        samples.append((time.time(), sample(proc.pid)))
        time.sleep(a.interval)
    path = a.spans
    if path is None:
        found = [p for p in glob.glob(".perfbench_out/*-spans.json") if os.path.getmtime(p) >= t_start]
        path = max(found, key=os.path.getmtime) if found else None
    spans = json.load(open(path, encoding="utf-8")) if path else []
    print(report(split(intervals(samples), spans)), file=sys.stderr)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
