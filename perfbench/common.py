"""Pure helpers of the benchmark: percentiles, the open-loop tick
schedule, the expected-delivery model, the Spark event-log parser, the
process-tree peak memory and stop, benchmark-side spans and the
stream-copy probe.

Nothing here starts Spark; the self-tests in ``test_common.py`` cover
the functions that decide a reported number or a correctness verdict.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import time
from collections import Counter, defaultdict

# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples a reported percentile must leave beyond it
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest sample with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def _rank(p: float, n: int) -> int:
    # round first: 99.9 / 100 * 10_000 is 9990.000000000002 in binary
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail_percentile(n: int) -> float | None:
    """The highest percentile in TAIL_CANDIDATES that leaves at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None if even the
    median does not."""
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def summarize(values) -> dict:
    """Median, quartiles, the supported tail percentile and the count."""
    n = len(values)
    if n == 0:
        return {"n": 0}
    tail = tail_percentile(n)
    return {
        "n": n,
        "p25": percentile(values, 25),
        "p50": percentile(values, 50),
        "p75": percentile(values, 75),
        "p99": percentile(values, 99),
        "max": max(values),
        "tail_pct": tail,
        "tail": percentile(values, tail) if tail is not None else None,
    }


# ---------------------------------------------------------------------------
# open-loop schedule
# ---------------------------------------------------------------------------


def tick_schedule(rate: float, seconds: float, tick_s: float) -> list[tuple[float, int]]:
    """(offset from start, records due) for each send tick.

    The cumulative count due by the end of tick i is
    ``round(rate * (i + 1) * tick_s)``, so rounding never drifts the
    rate and the schedule depends only on its arguments, never on how
    fast the sender keeps up."""
    n_ticks = int(round(seconds / tick_s))
    out = []
    sent = 0
    for i in range(n_ticks):
        total = int(round(rate * tick_s * (i + 1)))
        out.append((i * tick_s, total - sent))
        sent = total
    return out


def lateness(due: list[float], actual: list[float]) -> list[float]:
    """Seconds each send ran behind its due time (0 when on time)."""
    return [max(0.0, a - d) for d, a in zip(due, actual)]


# ---------------------------------------------------------------------------
# expected-delivery model
# ---------------------------------------------------------------------------


def expected_delivery(shard_payloads: dict[str, list[str]], accept) -> set[tuple[str, int]]:
    """(shardId, sequence number) of every logged record the filter
    model ``accept(payload)`` passes; a record's sequence number is its
    line index in the shard log."""
    return {
        (shard, seq)
        for shard, payloads in shard_payloads.items()
        for seq, payload in enumerate(payloads)
        if accept(payload)
    }


def check_delivery(expected: set, delivered: list[tuple[str, int, int]]) -> dict:
    """Compare delivered (shardId, seq, epoch) rows with the model.

    ``missing``/``extra`` compare the delivered set with ``expected``;
    ``duplicates`` counts rows beyond the first per (shardId, seq);
    ``order_violations`` counts pairs of consecutive epochs of one shard
    whose sequence ranges overlap or run backwards."""
    counts = Counter((s, q) for s, q, _ in delivered)
    got = set(counts)
    by_shard: dict[str, dict[int, list[int]]] = defaultdict(lambda: defaultdict(list))
    for s, q, e in delivered:
        by_shard[s][e].append(q)
    order = 0
    for epochs in by_shard.values():
        prev_max = None
        for e in sorted(epochs):
            lo, hi = min(epochs[e]), max(epochs[e])
            if prev_max is not None and lo <= prev_max:
                order += 1
            prev_max = hi
    out = {
        "missing": len(expected - got),
        "extra": len(got - expected),
        "duplicates": sum(c - 1 for c in counts.values()),
        "order_violations": order,
    }
    out["mismatches"] = sum(out.values())
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """Event files of one application in write order, from the Spark 4
    rolling layout ``eventlog_v2_<app>/events_<n>_<app>``."""
    rolled = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))


def read_events(paths: list[str]):
    for p in paths:
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def stage_table(events) -> dict[int, dict]:
    """Per-stage task totals and the job group of the job that ran it.

    Keyed by stage id; a retried stage attempt adds to the same row."""
    stages: dict[int, dict] = {}
    group_of_stage: dict[int, str | None] = {}

    def row(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {
                "stage": sid,
                "group": group_of_stage.get(sid),
                "tasks": 0,
                "submit_ms": None,
                "complete_ms": None,
                "run_ms": 0,
                "cpu_ns": 0,
                "gc_ms": 0,
                "input_bytes": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            },
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                group_of_stage[sid] = group
                if sid in stages:
                    stages[sid]["group"] = group
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            r = row(ev["Stage ID"])
            r["tasks"] += 1
            r["run_ms"] += m.get("Executor Run Time", 0)
            r["cpu_ns"] += m.get("Executor CPU Time", 0)
            r["gc_ms"] += m.get("JVM GC Time", 0)
            r["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            r = row(info["Stage ID"])
            r["submit_ms"] = info.get("Submission Time")
            r["complete_ms"] = info.get("Completion Time")
    return stages


def job_groups(events) -> Counter:
    """Jobs started per job group."""
    return Counter(
        (ev.get("Properties") or {}).get("spark.jobGroup.id")
        for ev in events
        if ev.get("Event") == "SparkListenerJobStart"
    )


#: a one-task stage running longer than this is flagged
SLOW_SINGLE_TASK_MS = 500


def exec_summary(stages: list[dict]) -> dict:
    """The ``exec.*`` metrics over a set of stage rows."""
    return {
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "exec.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "exec.single_task_stages_slow": sum(
            1 for s in stages if s["tasks"] == 1 and s["run_ms"] > SLOW_SINGLE_TASK_MS
        ),
    }


# ---------------------------------------------------------------------------
# memory, spans, bandwidth
# ---------------------------------------------------------------------------


def _proc_parents() -> dict[int, int]:
    """pid -> parent pid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return out


def descendants(root: int) -> list[int]:
    """Live descendants of ``root``, parents before their children."""
    children = defaultdict(list)
    for pid, ppid in _proc_parents().items():
        children[ppid].append(pid)
    out, todo = [], list(children[root])
    while todo:
        pid = todo.pop(0)
        out.append(pid)
        todo.extend(children[pid])
    return out


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that the Python workers of a JVM
    that has exited stay in its tree for ``stop_descendants``."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop every descendant of this process and wait until each has
    ended: SIGTERM first (the JVM runs its shutdown hooks), SIGKILL to
    whatever is left after ``grace_s``.  PySpark's JVM otherwise exits
    only once it notices its stdin close, after this process is gone."""
    import signal

    me = os.getpid()
    deadline = time.monotonic() + grace_s
    termed: set[int] = set()
    while True:
        while True:  # reap ended children, adopted orphans included
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        live = descendants(me)
        if not live:
            return
        late = time.monotonic() > deadline
        for pid in live:
            if late or pid not in termed:
                termed.add(pid)
                with contextlib.suppress(ProcessLookupError, PermissionError):
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
        time.sleep(0.05)


def _peak_rss_kb(pid: int) -> int:
    """Peak resident set size of one process over its life, in kB."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int) -> float:
    """Summed lifetime-peak RSS, in MB, of ``root`` and its live
    descendants (the driver Python, the JVM it launched, the Python
    workers).  One read per process, so nothing samples /proc while a
    pass runs.  An upper bound on the simultaneous peak: the per-process
    peaks need not coincide."""
    return sum(_peak_rss_kb(pid) for pid in [root, *descendants(root)]) / 1024


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and its live descendants.  The kernel leaves out the time the
    hypervisor stole, so a busy host moves this less than wall time."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


class Spans:
    """Benchmark-side spans, kept in memory and written out at the end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.records, f)


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs since boot, from
    ``/proc/stat``: busy is user + nice + system + irq + softirq."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def process_start_time() -> float:
    """Unix time this process started (10 ms resolution)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def stream_bw_gbps(n_bytes: int = 64 * 1024 * 1024) -> float:
    """Streaming memory-copy bandwidth over pre-faulted buffers, GB/s:
    the same probe as the repository's full-sweep bench (3 copies of a
    64 MB buffer, larger than the last-level cache)."""
    src = bytes(n_bytes)
    dst = memoryview(bytearray(n_bytes))
    dst[:] = src  # fault both buffers in before timing
    t0 = time.perf_counter()
    for _ in range(3):
        dst[:] = src
    return 3 * 2 * n_bytes / (time.perf_counter() - t0) / 1e9
