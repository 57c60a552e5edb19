"""The repository benchmark: one command, two workloads.

Run from the repository root::

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 12 --trace 0

Workloads (see ``LAYERS.md`` for why each was chosen and which layer
metric should move which end-to-end metric):

- ``relational_mix``: the 22 TPC-H queries at sf0.1, serially, closed
  loop, whole passes until ``--seconds`` have elapsed (at least one);
- ``kinesis_consumer``: publish ~100k envelope records to 8 shard logs
  with the ``dks_kinesis`` producer and drain them with the consumer
  pipeline (``availableNow``), then keep consuming on a
  500 ms trigger while a separate generator process appends 5,000
  records/s for ``--seconds`` seconds.

With ``--trace 0`` the last stdout line is one JSON object with the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
of a separate traced run (Spark event log, job groups, spans).  Either
way ``correct`` reports the untimed check of the pass's outputs.  A
details record with the run context goes to stderr and to
``.perfbench_out/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _context(seed: int) -> dict:
    from common import stream_bw_gbps

    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, check=True, timeout=10,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            sha = None
    return {
        "git_sha": sha,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "seed": seed,
        "stream_bw_gbps": stream_bw_gbps(),
    }


def _prepare_env() -> None:
    """Environment the session and its Python workers need."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(ROOT, ".perfbench_out", "spark-local"))
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_env()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        import decisions_kinesis_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the package under test: {exc}", file=sys.stderr)
        return 3

    from common import become_subreaper, stop_descendants

    # The JVM writes to fd 1; keep stdout for the result line only.
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)

    out_root = os.path.join(ROOT, ".perfbench_out")
    out_dir = os.path.join(out_root, f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    bench = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace), out_dir)
    t_start = time.time()
    become_subreaper()
    # a SIGTERM unwinds through the finally below instead of killing us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        workloads.WORKLOADS[args.workload](bench)
    except workloads.FixtureError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 3
    finally:
        try:
            if bench.spark is not None:
                bench.spark.stop()
        finally:
            # the JVM, its Python workers and the generator end before we do
            stop_descendants()

    names = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    values = bench.layer if args.trace else bench.e2e
    result = {
        "correct": bench.mismatches == 0 and bench.failed == 0,
        "attempted": max(1, bench.attempted),
        "failed": bench.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names.items()},
    }
    record = {
        "workload": args.workload,
        "trace": args.trace,
        "started": t_start,
        "context": _context(args.seed),
        "result_mismatches": bench.mismatches,
        "failed_ratio": bench.failed / max(1, bench.attempted),
        "e2e": bench.e2e,
        "layer": bench.layer,
        "details": bench.details,
    }
    line = json.dumps(record, default=str)
    print(line, file=sys.stderr)
    with open(os.path.join(out_root, "results.jsonl"), "a", encoding="utf-8") as f:
        f.write(line + "\n")
    shutil.rmtree(out_dir, ignore_errors=True)
    sys.stderr.flush()
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
