"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf", ...}.

Each query is forced end-to-end with the noop sink (full computation,
no driver-side collect).  ``value`` is the summed best-pass wall-clock
seconds across all queries (see ``best_pass``).  The bench only times:
it keeps no history across runs, and whether a slower total comes from
the machine or the code is a question for an interleaved same-box A/B
(``tools/ab.py``, ``perfbench/run.py``), not for this script.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def best_pass(one_pass) -> tuple[float, float]:
    """The per-query timing rule: a cold pass (file listing + codegen +
    JIT) and a warm pass, best = min.  When the two disagree by more
    than 2x, one of them was a contention stall, so take a third pass
    and keep the min of all three.  ``one_pass()`` runs the query once
    and returns its seconds.  Returns (cold, best)."""
    cold = one_pass()
    warm = one_pass()
    best = min(cold, warm)
    if max(cold, warm) > 2.0 * best:
        best = min(best, one_pass())
    return cold, best


def main() -> None:
    # The driver parses stdout as ONE JSON line.  The JVM (progress
    # bars, occasional log4j misconfig warnings) writes straight to
    # fd 1, so a Python-level redirect isn't enough: duplicate fd 1
    # away to stderr for the whole run and emit the JSON on the saved
    # real stdout at the end.
    real_stdout_fd = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # silence the per-plan WindowExec WARNs: ~250 queries of them
    # drown the log tail
    os.environ.setdefault("SPARK_GRAFT_QUIET_WINDOWEXEC", "1")

    import __spark_entry__ as entry_mod
    from decisions_kinesis_spark.operators import stage_cache
    from decisions_kinesis_spark.operators.clustering import _KM_LOOP_CACHE
    from decisions_kinesis_spark.session import get_session
    from perfbench.common import stream_bw_gbps

    spark = get_session(app_name="dks-bench")
    # warm up the JVM + parquet footer cache outside the timed region
    spark.range(1000).selectExpr("sum(id)").collect()

    # Untimed whole-registry warm-up at the smallest fixture: the first
    # queries of a fresh session otherwise pay start-of-session cost in
    # shared infrastructure (janino/codegen compiler, Arrow serializers,
    # parquet reader classes, the Python worker daemon pool), not in
    # their own plans.  Any warm-up failure is ignored: the timed loop
    # reports it properly.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    warmup_sec = 0.0
    if os.path.isdir(warm_dir) and os.path.abspath(
        warm_dir
    ) != os.path.abspath(sf_dir):
        t0 = time.perf_counter()
        for _name, _fn in entry_mod.queries().items():
            try:
                _fn(spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:  # noqa: BLE001 - warm-up must never sink
                pass
            gc.collect()
        warmup_sec = round(time.perf_counter() - t0, 3)

    # Deliberately-alternate implementations (kept in queries() for
    # correctness coverage of the extension-point API, not the
    # recommended execution path) are excluded from the headline total.
    alternates = {"asof_join_events_orders_pandas"}

    def _jvm_heap_mb() -> int:
        """Driver-JVM used heap, MB: retained status-store/plan objects
        and uncollected blocks show up here before wall-clock does."""
        rt = spark._jvm.java.lang.Runtime.getRuntime()  # noqa: SLF001
        return int((rt.totalMemory() - rt.freeMemory()) / (1024 * 1024))

    def _one_pass(fn) -> float:
        # clear the memos before every pass so each pass times the
        # operators, not a stage_cache/_KM_LOOP_CACHE read
        stage_cache.clear()
        _KM_LOOP_CACHE.clear()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    heap_mb: list[int] = [_jvm_heap_mb()]
    # memory-copy bandwidth at start and end, for attribution only
    stream_bw = [round(stream_bw_gbps(), 2)]
    for name, fn in entry_mod.queries().items():
        if name in alternates:
            continue
        # one failing query must not sink the whole bench: record the
        # error and keep walking
        try:
            cold[name], timings[name] = best_pass(lambda: _one_pass(fn))
        except Exception as exc:  # noqa: BLE001 - report, don't die
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            print(f"bench error in {name}: {errors[name]}", file=sys.stderr)
            continue
        # free this query's localCheckpoint blocks before the next one:
        # checkpointed RDDs release only when their Python DataFrame is
        # garbage-collected, so a long session otherwise accretes
        # executor-memory blocks and the run ages
        gc.collect()
        if len(timings) % 40 == 0:
            heap_mb.append(_jvm_heap_mb())
    if len(timings) % 40 != 0:  # end sample, unless the loop just took one
        heap_mb.append(_jvm_heap_mb())
    stream_bw.append(round(stream_bw_gbps(), 2))

    # The stdout line must stay compact: the driver's tail-capture
    # window drops a full per-query map.  Put a handful of headline
    # timings on the line; the complete map goes to bench_last.json.
    headline = (
        "q1_pricing_summary",
        "flagship_premium_filter",
        "dedup_minhash_lsh_pairs",
        "ann_ivf_topk",
        "text_token_stats",
        "pipeline_clean_corpus",
    )
    payload = {
        "metric": "total_wall_sec_all_queries_best_pass",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": {k: timings[k] for k in headline if k in timings},
        "sf": sf,
        "n_queries": len(timings),
        "cold_total_sec": round(sum(cold.values()), 3),
        "n_errors": len(errors),
        "warmup_sec": warmup_sec,
        # driver-JVM used heap at start, every 40 queries, and end
        "jvm_heap_mb": heap_mb,
        "stream_bw_gbps": stream_bw,
    }
    full = dict(payload, queries=timings)
    # registered queries deliberately outside the total, so n_queries
    # vs the registry count needs no archaeology
    full["excluded_alternates"] = sorted(
        alternates & set(entry_mod.queries())
    )
    if errors:
        full["errors"] = errors
    sys.stdout.flush()
    sys.stderr.flush()
    os.write(real_stdout_fd, (json.dumps(payload) + "\n").encode())
    # the full per-query map for post-hoc inspection
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_last.json"),
        "w",
    ) as f:
        f.write(json.dumps(full) + "\n")


if __name__ == "__main__":
    main()
