"""Interleaved same-box A/B (or, with one arm, a profile) of registered
queries.

    python tools/ab.py --arm head --arm lazy [--n 3] query ...

The fixture is the package's default (``$SPARK_GRAFT_SF_DIR``, else sf0.1).

Arm specs (``--arm``, repeatable; one arm is a profile):

- ``head``            the working tree as is;
- ``ref:<rev>``       a git revision, checked out as a detached worktree
                      in the temp dir and removed on exit;
- ``conf:<key>=<v>``  the working tree with one extra session conf;
- ``lazy``            the working tree with ``DataFrame.localCheckpoint``
                      patched to identity, so ``parallel.materialize``
                      (its only caller) stores nothing.

Each arm is one long-lived worker process with its own Spark session
and event log.  Per query, every arm first collects the rows once,
untimed, canonicalized with ``oracle_check.norm_exact``; then ``--n``
rounds each run every arm once, the arm order reversed every other
round, with the session memos cleared before every run.  A run times
the construction (build) and a noop-sink write (exec) under their own
job groups.  After the workers stop, jobs, stages and tasks per phase
come from their event logs (``perfbench.common``), so no status-store
retention limit can drop them.  The box's memory-copy bandwidth is
sampled before each round.  A call that takes longer than
``_CALL_TIMEOUT_S`` is an error for that arm and query; its worker is
killed and restarted, and the other arms go on.

Exit status: 0 when every arm returned the same values for every
query, 1 on a value mismatch, 2 when a query failed in some arm.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import queue
import signal
import subprocess
import sys
import tempfile
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a call (one values pass or one timed run) that takes longer has its
#: worker killed and restarted; an arm without materialization can
#: plan an iterative query exponentially and never return
_CALL_TIMEOUT_S = 600


# ---------------------------------------------------------------------------
# arm specs and values (no Spark)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Arm:
    spec: str
    ref: str | None = None
    conf: tuple[str, str] | None = None
    lazy: bool = False


def parse_arm(spec: str) -> Arm:
    if spec in ("head", "lazy"):
        return Arm(spec, lazy=spec == "lazy")
    kind, _, rest = spec.partition(":")
    if kind == "ref" and rest:
        return Arm(spec, ref=rest)
    if kind == "conf" and "=" in rest and rest.split("=", 1)[0]:
        key, value = rest.split("=", 1)
        return Arm(spec, conf=(key, value))
    raise ValueError(f"bad arm spec {spec!r}: head, lazy, ref:<rev> or conf:<key>=<value>")


def canonical_rows(columns: list[str], rows) -> list[str]:
    """The sorted multiset of rows as text, columns taken in name order
    and values normalized by ``oracle_check.norm_exact``."""
    from oracle_check import norm_exact

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(repr(tuple(norm_exact(r[i]) for i in order)) for r in rows)


def value_diff(a: list[str], b: list[str], limit: int = 3) -> str | None:
    """None when the two canonical row lists are equal, else a short
    description of the rows only one side has."""
    if a == b:
        return None
    ca, cb = Counter(a), Counter(b)
    only_a = list((ca - cb).elements())
    only_b = list((cb - ca).elements())
    return (
        f"rows {len(a)} vs {len(b)}; only first {len(only_a)}: {only_a[:limit]}"
        f"; only second {len(only_b)}: {only_b[:limit]}"
    )


# ---------------------------------------------------------------------------
# worker: one Spark session per arm, JSON lines over stdin / a dup of stdout
# ---------------------------------------------------------------------------


def _worker(arm: Arm, code: str, sf_dir: str, out: str) -> None:
    proto = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)  # whatever the package or the JVM prints goes to stderr

    # bind the package to ``code`` before __spark_entry__, which puts
    # the default checkout first on sys.path
    sys.path.insert(0, code)
    import decisions_kinesis_spark

    if not decisions_kinesis_spark.__file__.startswith(code):
        raise RuntimeError(f"package bound to {decisions_kinesis_spark.__file__}, not {code}")
    import __spark_entry__ as entry
    from decisions_kinesis_spark.operators import stage_cache
    from decisions_kinesis_spark.operators.clustering import _KM_LOOP_CACHE
    from decisions_kinesis_spark.session import get_session

    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": os.path.join(out, "eventlog"),
        "spark.eventLog.compress": "false",
    }
    os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    if arm.conf:
        conf[arm.conf[0]] = arm.conf[1]
    spark = get_session(app_name=f"ab-{arm.spec}", extra_conf=conf)
    if arm.lazy:  # the session's concrete class: pyspark.sql.DataFrame is only its base
        type(spark.range(0)).localCheckpoint = lambda self, *args, **kwargs: self
    sc = spark.sparkContext
    queries = entry.queries()

    def start(query: str, group: str):
        stage_cache.clear()
        _KM_LOOP_CACHE.clear()
        sc.setJobGroup(group, query)
        return queries[query]

    def values(query: str, group: str) -> dict:
        df = start(query, group)(spark, sf_dir)
        rows = canonical_rows(df.columns, df.collect())
        path = os.path.join(out, f"{query}.rows")
        with open(path, "w", encoding="utf-8") as f:
            f.writelines(r + "\n" for r in rows)
        return {"rows": len(rows), "path": path}

    def run(query: str, group: str) -> dict:
        fn = start(query, f"{group}:build")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{group}:exec", query)
        df.write.format("noop").mode("overwrite").save()
        return {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}

    proto.write(json.dumps({"app_id": sc.applicationId}) + "\n")
    for line in sys.stdin:
        cmd = json.loads(line)
        try:
            reply = {"values": values, "run": run}[cmd["op"]](cmd["query"], cmd["group"])
        except Exception as exc:  # noqa: BLE001 - report per query, keep serving
            reply = {"error": f"{type(exc).__name__}: {str(exc)[:300]}"}
        proto.write(json.dumps(reply) + "\n")
    spark.stop()


# ---------------------------------------------------------------------------
# controller: starts the workers, interleaves the runs, reports
# ---------------------------------------------------------------------------


class Worker:
    """One arm's worker process, restarted after a call that timed out."""

    def __init__(self, arm: Arm, code: str, sf_dir: str, out: str):
        self.arm, self.out = arm, out
        self.argv = [sys.executable, os.path.abspath(__file__), "--worker",
                     json.dumps({"arm": arm.spec, "code": code, "sf": sf_dir, "out": out})]
        # Spark's Python workers unpickle package code (dks_kinesis
        # readers, UDFs) by reference: bind them to the arm's checkout too
        self.env = {**os.environ, "PYTHONPATH": os.pathsep.join(
            p for p in (code, os.environ.get("PYTHONPATH")) if p)}
        self.app_ids: list[str] = []
        os.makedirs(out)
        self._start()

    def _start(self) -> None:
        # own session: a kill takes the worker's JVM with it
        self.proc = subprocess.Popen(self.argv, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     text=True, cwd=self.out, env=self.env,
                                     start_new_session=True)
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=_pump, args=(self.proc.stdout, self.lines), daemon=True).start()

    def _reply(self) -> dict:
        try:
            line = self.lines.get(timeout=_CALL_TIMEOUT_S)
        except queue.Empty:
            self.kill()
            self._start()
            return {"error": f"no reply in {_CALL_TIMEOUT_S} s; worker restarted"}
        if line is None:
            raise RuntimeError(f"arm {self.arm.spec}: worker exited ({self.proc.wait()})")
        return json.loads(line)

    def call(self, op: str, query: str, group: str) -> dict:
        self.proc.stdin.write(json.dumps({"op": op, "query": query, "group": group}) + "\n")
        self.proc.stdin.flush()
        while "app_id" in (reply := self._reply()):  # a (re)started session's hello
            self.app_ids.append(reply["app_id"])
        return reply

    def kill(self) -> None:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()

    def stop(self) -> None:
        with contextlib.suppress(BrokenPipeError):
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=120)
        except subprocess.TimeoutExpired:
            self.kill()


def phase_counts(log_dir: str, app_ids: list[str]) -> dict[str, Counter]:
    """jobs / stages / tasks per job group, from the event logs of
    ``app_ids``, read one session at a time: stage ids restart with
    every session."""
    from perfbench.common import event_log_files, job_groups, read_events, stage_table

    counts: dict[str, Counter] = defaultdict(Counter)
    for app in app_ids:
        paths = event_log_files(log_dir, app)
        for p in paths:  # a killed session can leave a half-written last line
            with open(p, "rb+") as f:
                f.truncate(f.read().rfind(b"\n") + 1)
        events = list(read_events(paths))
        for g, n in job_groups(events).items():
            counts[g]["jobs"] += n
        for s in stage_table(events).values():
            counts[s["group"]]["stages"] += 1
            counts[s["group"]]["tasks"] += s["tasks"]
    return counts


def _pump(stream, lines: queue.Queue) -> None:
    for line in stream:
        lines.put(line)
    lines.put(None)


def _span(xs: list) -> str:
    return str(xs[0]) if min(xs) == max(xs) else f"{min(xs)}-{max(xs)}"


def compare(
    arms: list[Arm], queries: list[str], n: int, sf_dir: str, tmp: str
) -> tuple[dict, int]:
    from perfbench.common import stream_bw_gbps

    workers: list[Worker] = []
    refs: list[str] = []
    report: dict = {}
    status = 0
    done = False
    try:
        for i, arm in enumerate(arms):
            code = _HERE
            if arm.ref:
                code = os.path.join(tmp, f"ref{i}")
                subprocess.run(
                    ["git", "-C", _HERE, "worktree", "add", "--detach", code, arm.ref],
                    check=True, stdout=subprocess.DEVNULL,
                )
                refs.append(code)
            workers.append(Worker(arm, code, sf_dir, os.path.join(tmp, f"arm{i}")))
        for q in queries:
            rec = report[q] = {"arms": {w.arm.spec: {"build_s": [], "exec_s": []} for w in workers}}
            vals = {w.arm.spec: w.call("values", q, f"ab:{q}:values") for w in workers}
            errors = {a: v["error"] for a, v in vals.items() if "error" in v}
            live = [w for w in workers if w.arm.spec not in errors]
            if live:
                first = vals[live[0].arm.spec]
                rec["rows"] = first["rows"]
                for w in live[1:]:
                    diff = value_diff(_read_rows(first["path"]), _read_rows(vals[w.arm.spec]["path"]))
                    if diff:
                        rec.setdefault("mismatch", {})[w.arm.spec] = diff
                        status = max(status, 1)
            rec["bw_gbps"] = []
            for r in range(n if live else 0):
                rec["bw_gbps"].append(round(stream_bw_gbps(), 1))
                for w in live if r % 2 == 0 else live[::-1]:
                    res = w.call("run", q, f"ab:{q}:r{r}")
                    if "error" in res:
                        errors[w.arm.spec] = res["error"]
                        continue
                    for k in ("build_s", "exec_s"):
                        rec["arms"][w.arm.spec][k].append(round(res[k], 3))
                    print(f"  {q} round {r} {w.arm.spec}: build {res['build_s']:.3f}"
                          f" exec {res['exec_s']:.3f}", file=sys.stderr, flush=True)
                live = [w for w in live if w.arm.spec not in errors]
            if errors:
                rec["error"] = errors
                status = max(status, 2)
        done = True
    finally:
        for w in workers:
            if done:
                w.stop()
            else:  # an error or a signal: do not wait for a query to finish
                w.kill()
        for code in refs:
            subprocess.run(["git", "-C", _HERE, "worktree", "remove", "--force", code], check=False)
    for w in workers:
        counts = phase_counts(os.path.join(w.out, "eventlog"), w.app_ids)
        for q, rec in report.items():
            r_arm = rec["arms"][w.arm.spec]
            for phase in ("build", "exec"):
                runs = [counts[f"ab:{q}:r{r}:{phase}"] for r in range(len(r_arm["build_s"]))]
                r_arm[phase] = {k: [c[k] for c in runs] for k in ("jobs", "stages", "tasks")}
    return report, status


def _read_rows(path: str) -> list[str]:
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def print_report(report: dict) -> None:
    for q, rec in report.items():
        if "error" in rec:
            print(f"{q}: ERROR {rec['error']}")
        if "rows" in rec:
            verdict = "MISMATCH" if "mismatch" in rec else "values equal"
            print(f"{q}: {verdict} ({rec['rows']} rows), bw GB/s {rec['bw_gbps']}")
        for a, d in rec.get("mismatch", {}).items():
            print(f"  {a}: {d}")
        timed = {a: r for a, r in rec["arms"].items() if r["build_s"]}
        if timed:
            print(f"  {'arm':36s} {'phase':5s} {'best':>7s}  {'jobs':>5s} {'stages':>6s} {'tasks':>6s}  all")
        for arm, r in timed.items():
            for phase in ("build", "exec"):
                secs, c = r[f"{phase}_s"], r[phase]
                print(f"  {arm:36s} {phase:5s} {min(secs):7.3f}  {_span(c['jobs']):>5s}"
                      f" {_span(c['stages']):>6s} {_span(c['tasks']):>6s}  {secs}")
            total = [round(b + e, 3) for b, e in zip(r["build_s"], r["exec_s"])]
            print(f"  {arm:36s} {'total':5s} {min(total):7.3f}  {'':20s}  {total}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--arm", action="append", default=[], help="head, lazy, ref:<rev>, conf:<key>=<value>")
    p.add_argument("--n", type=int, default=3, help="timed rounds per query")
    p.add_argument("--worker", help=argparse.SUPPRESS)  # JSON: arm, code, sf, out
    p.add_argument("queries", nargs="*")
    args = p.parse_args()
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")
    if args.worker:
        w = json.loads(args.worker)
        _worker(parse_arm(w["arm"]), w["code"], w["sf"], w["out"])
        return 0
    if not args.arm or not args.queries:
        p.error("give at least one --arm and one query")
    try:
        arms = [parse_arm(s) for s in args.arm]
    except ValueError as exc:
        p.error(str(exc))
    if len({a.spec for a in arms}) != len(arms):
        p.error("arm specs must differ")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # stop the workers on the way out
    sys.path.insert(0, _HERE)
    from decisions_kinesis_spark.sources.tables import DEFAULT_SF_DIR

    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        report, status = compare(arms, args.queries, args.n, os.path.abspath(DEFAULT_SF_DIR), tmp)
    print_report(report)
    return status


if __name__ == "__main__":
    raise SystemExit(main())
