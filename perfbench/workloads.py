"""The benchmark's workloads, each driven through the public API of
``decisions_kinesis_spark``.

Every workload runs in three steps: set-up, which ends with a warm-up
outside the timed region (see ``Bench.setup``), the timed pass, and an
untimed correctness check of what the timed pass produced.  With tracing
on, the same steps also tag Spark jobs with ``<workload>:<phase>:<kind>``
job groups, keep benchmark-side spans, and read Spark's event log after
the session stops.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import resource
import statistics
import subprocess
import sys
import time

from common import (
    SLOW_SINGLE_TASK_MS,
    Spans,
    cpu_ticks,
    check_delivery,
    event_log_files,
    exec_summary,
    expected_delivery,
    job_groups,
    process_start_time,
    read_events,
    stage_table,
    summarize,
    tree_cpu_s,
    tree_peak_rss_mb,
)

HERE = os.path.dirname(os.path.abspath(__file__))

#: the 22 TPC-H queries of operators.relational, in query-number order
RELATIONAL_QUERIES = (
    "q1_pricing_summary", "q2_min_price_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_nation_volume", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q11_important_parts", "q12_late_shipment_priority",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_part_supplier_counts", "q17_small_quantity_revenue", "q18_large_orders",
    "q19_disjunctive_revenue", "q20_excess_suppliers",
    "q21_single_supplier_orders", "q22_sales_opportunity",
)


#: the one query run before the timed pass of relational_mix
WARMUP_QUERY = "q1_pricing_summary"
NUM_SHARDS = 8
TAIL_RATE = 5000.0  # records per second
TAIL_TRIGGER = "500 milliseconds"
# the first attempt of tail epochs 3, 23, 43, ... (counted from the
# tail's first epoch) throttles: one retry in every run of 4-23 epochs
TAIL_FAIL_EVERY = 20
TAIL_FAIL_PHASE = 3
CATCHUP_BOUND_S = 10.0

#: every workload reports every one of these, with --trace 0
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: every workload reports every one of these, with --trace 1; metrics of
#: a layer the workload does not use read 0.  The wall times of the pass
#: come first: a busy host moves them too much to bound them.
PER_LAYER = {
    "pass_s": "s",
    "latency_p50_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.pyds.write_s": "s",
    "sources.pyds.write_records_per_s": "1/s",
    "sources.pyds.scan_records_per_s": "1/s",
    "sources.pyds.latest_offset_ms_p50": "ms",
    "sources.tables.input_bytes": "bytes",
    "functions.filters.rows_in": "count",
    "functions.filters.rows_out": "count",
    "functions.filters.pass_ratio": "ratio",
    "functions.filters.records_per_s": "1/s",
    "streaming.drain_records_per_s": "1/s",
    "streaming.latency_p99_s": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.dispatch.handler_s_p50": "s",
    "streaming.dispatch.attempts": "count",
    "streaming.dispatch.retries": "count",
    "streaming.dispatch.backoff_s": "s",
    "streaming.dispatch.attempts_per_success": "ratio",
    "streaming.catchup_after_stop_s": "s",
    "generator.sent_records": "count",
    "generator.late_max_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.exec_s": "s",
    "operators.exec_jobs": "count",
    **{f"query.{q}.s": "s" for q in RELATIONAL_QUERIES},
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.cpu_util": "ratio",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.single_task_stages_slow": "count",
}


class FixtureError(RuntimeError):
    """The input tables the workloads read are not present."""


class Bench:
    """State of one benchmark run: session, spans, counters, results."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, out_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.out = out_dir
        self.spans = Spans(f"{workload}-{seed}-{int(trace)}-{int(time.time())}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.mismatches = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0)
        self.details: dict = {}
        self.load_cpu_s = 0.0  # the load generator's, left out of cpu_s
        self.timed_window: tuple[float, float] | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.out, *parts)

    def _start_session(self):
        from decisions_kinesis_spark.session import get_session
        from decisions_kinesis_spark.sources import pyds

        conf = None
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
            }
        spark = get_session(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        pyds.register(spark)
        return spark

    def setup(self, warm) -> None:
        """Time set-up as a user pays it: from the start of this process
        (interpreter, imports) until the session is up, ``dks_kinesis``
        is registered and the workload's untimed ``warm`` step is done."""
        t0 = time.perf_counter()
        with self.spans.span("session.start"):
            self.spark = self._start_session()
        t1 = time.perf_counter()
        with self.spans.span("session.warmup"):
            self.job_group("warmup", "exec")
            warm()
        t2 = time.perf_counter()
        self.e2e["setup_s"] = time.time() - process_start_time()
        self.layer["session.start_s"] = t1 - t0
        self.layer["session.warmup_s"] = t2 - t1

    def job_group(self, phase: str, kind: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(f"{self.workload}:{phase}:{kind}", phase)

    @contextlib.contextmanager
    def timed(self):
        """The timed pass: its span and its window; afterwards the CPU
        time and peak memory of the process tree and, for attribution,
        the share of the machine's CPU time that the hypervisor stole
        during it."""
        busy0, steal0 = cpu_ticks()
        cpu0 = tree_cpu_s(os.getpid())
        with self.spans.span("pass"):
            t0 = time.time()
            try:
                yield
            finally:
                self.timed_window = (t0, time.time())
        busy1, steal1 = cpu_ticks()
        self.e2e["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0 - self.load_cpu_s
        self.e2e["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
        self.details["cpu_steal_share"] = (steal1 - steal0) / max(
            1, busy1 - busy0 + steal1 - steal0
        )

    def set_pass(self, pass_s: float, latencies: list[float]) -> dict:
        """Record ``pass_s`` and the median latency; return the summary
        of the latency samples."""
        s = summarize(latencies)
        self.layer["pass_s"] = pass_s
        self.layer["latency_p50_s"] = s["p50"]
        self.details["latency"] = s
        return s

    def finish(self) -> None:
        """Stop the session; with tracing on, read its event log."""
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        if not self.trace:
            return
        events = list(read_events(event_log_files(self.path("eventlog"), app_id)))
        lo, hi = self.timed_window
        timed = [
            s for s in stage_table(events).values()
            if s["submit_ms"] is not None and lo * 1e3 <= s["submit_ms"] <= hi * 1e3
        ]
        self.layer.update(exec_summary(timed))
        self.layer["exec.cpu_util"] = self.layer["exec.executor_cpu_s"] / (
            (hi - lo) * (os.cpu_count() or 1)
        )
        if self.workload == "relational_mix":
            jobs = job_groups(events)
            for kind in ("build", "exec"):
                self.layer[f"operators.{kind}_jobs"] = sum(
                    n for g, n in jobs.items()
                    if g and g.endswith(f":{kind}") and ":warmup:" not in g
                )
            self.layer["sources.tables.input_bytes"] = sum(s["input_bytes"] for s in timed)
        self.details["stages_slow_single_task"] = [
            {k: s[k] for k in ("stage", "group", "run_ms")}
            for s in timed if s["tasks"] == 1 and s["run_ms"] > SLOW_SINGLE_TASK_MS
        ]
        self.spans.write(f"{self.out}-spans.json")


def _fixture_dir() -> str:
    """The package's default fixture directory (sf0.1), checked."""
    from decisions_kinesis_spark.sources.tables import DEFAULT_SF_DIR, TABLE_NAMES

    missing = [
        t for t in TABLE_NAMES if not os.path.exists(os.path.join(DEFAULT_SF_DIR, f"{t}.parquet"))
    ]
    if missing:
        raise FixtureError(f"fixture tables {missing} missing under {DEFAULT_SF_DIR}")
    return DEFAULT_SF_DIR


# ---------------------------------------------------------------------------
# relational_mix
# ---------------------------------------------------------------------------


class _Collected:
    """A query's frame and its already-collected rows, in the shape the
    DuckDB oracle comparison reads (``columns``, ``schema``, ``collect``)."""

    def __init__(self, df, rows):
        self.df = df
        self.rows = rows

    @property
    def columns(self):
        return self.df.columns

    @property
    def schema(self):
        return self.df.schema

    def collect(self):
        return self.rows


def _relational_pass(b: Bench, queries, sf_dir: str) -> tuple[dict, list]:
    """One serial pass over the 22 queries: per-query (build, exec)
    seconds and the collected results of the queries that ran."""
    from decisions_kinesis_spark.operators import clustering, stage_cache

    times, results = {}, []
    for name in RELATIONAL_QUERIES:
        # memo hygiene: a stage-cache hit must not pass for a speed-up
        stage_cache.clear()
        clustering._KM_LOOP_CACHE.clear()
        b.attempted += 1
        t0 = time.perf_counter()
        try:
            with b.spans.span("operators.build", query=name):
                b.job_group(name, "build")
                df = queries[name](b.spark, sf_dir)
            t1 = time.perf_counter()
            with b.spans.span("operators.exec", query=name):
                b.job_group(name, "exec")
                rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            b.failed += 1
            b.details.setdefault("errors", {})[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        t2 = time.perf_counter()
        times[name] = (t1 - t0, t2 - t1)
        results.append((name, _Collected(df, rows)))
    return times, results


def relational_mix(b: Bench) -> None:
    """Closed loop, one client, the 22 queries in query-number order.

    The warm-up runs ``WARMUP_QUERY`` once, which takes the session's
    one-time costs (first parquet scan, first generated code, first job)
    out of the timed region; each query's own planning and code
    generation stay in it, as in a fresh batch session.  A whole warm-up
    pass would double the run: it cost 22-27 s even at sf0.001.  The
    timed region runs whole passes until ``--seconds`` have elapsed (at
    least one); ``pass_s`` is the median pass and a query's latency its
    median over the passes."""
    from decisions_kinesis_spark.operators import relational

    sf_dir = _fixture_dir()
    queries = relational.QUERIES
    b.setup(lambda: queries[WARMUP_QUERY](b.spark, sf_dir).collect())

    passes: list[float] = []
    runs: list[dict] = []
    results: list = []
    with b.timed():
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < b.seconds:
            t0 = time.perf_counter()
            times, res = _relational_pass(b, queries, sf_dir)
            passes.append(time.perf_counter() - t0)
            runs.append(times)
            results += res
    per_query = {}
    for name in RELATIONAL_QUERIES:
        ts = [r[name] for r in runs if name in r]
        if ts:
            per_query[name] = statistics.median(bt + et for bt, et in ts)
            b.layer[f"query.{name}.s"] = per_query[name]
            b.layer["operators.build_s"] += statistics.median(bt for bt, _ in ts)
            b.layer["operators.exec_s"] += statistics.median(et for _, et in ts)
    b.details["passes_s"] = passes
    b.set_pass(statistics.median(passes), list(per_query.values()))

    # correctness, untimed: every result of every pass against its DuckDB oracle
    sys.path.insert(0, os.path.dirname(HERE))
    from tools.oracle_check import compare, duck_con

    con = duck_con(sf_dir)
    for name, collected in results:
        errs = compare(name, collected, con, relational.ORACLES[name])
        if errs:
            b.mismatches += 1
            b.details.setdefault("mismatch", {})[name] = errs
    con.close()
    b.finish()


# ---------------------------------------------------------------------------
# kinesis_consumer
# ---------------------------------------------------------------------------


def queue_config():
    """The consumer's queue definition: ``k GREATER_THAN "50"`` OR
    ``event_type EQUALS_CI "PURCHASE"`` (ordinal string compare)."""
    from decisions_kinesis_spark.config import FilterVerb, KinesisQueueConfig, PayloadFilter

    return KinesisQueueConfig(
        stream_name="perfbench",
        payload_filters=[
            PayloadFilter("k", FilterVerb.GREATER_THAN, "50"),
            PayloadFilter("event_type", FilterVerb.EQUALS_CI, "PURCHASE"),
        ],
        use_or=True,
    )


class Dispatch:
    """The consumer's handler: the package's idempotent parquet sink,
    wrapped to time it, to record when each epoch was delivered, and to
    throttle the first attempt of chosen epochs so the retry path runs."""

    def __init__(self, sink_path: str):
        from decisions_kinesis_spark.streaming.runtime import idempotent_parquet_sink

        self.sink = idempotent_parquet_sink(sink_path)
        self.throttle_from: int | None = None  # first epoch of the tail
        self.throttled: set[int] = set()
        self.done: dict[int, float] = {}
        self.handler_s: list[float] = []
        self.attempts = 0
        self.retries = 0
        self.backoff_s = 0.0

    def handler(self, batch_df, epoch_id: int) -> None:
        from decisions_kinesis_spark.streaming.runtime import ThrottleError

        self.attempts += 1
        if (
            self.throttle_from is not None
            and (epoch_id - self.throttle_from) % TAIL_FAIL_EVERY == TAIL_FAIL_PHASE
            and epoch_id not in self.throttled
        ):
            self.throttled.add(epoch_id)
            raise ThrottleError(f"injected throttle on epoch {epoch_id}")
        t0 = time.perf_counter()
        self.sink(batch_df, epoch_id)
        self.handler_s.append(time.perf_counter() - t0)
        self.done[epoch_id] = time.time()

    def sleeper(self, seconds: float) -> None:
        self.retries += 1
        self.backoff_s += seconds
        time.sleep(seconds)


def _backoff():
    from decisions_kinesis_spark.streaming.runtime import BackoffPolicy

    # base == cap: every retry sleeps exactly 0.2 s, so the jitter term
    # cannot move latency between seeds
    return BackoffPolicy(max_retries=3, base_delay_s=0.2, max_delay_s=0.2)


def _start_consumer(b: Bench, log_dir: str, dispatch: Dispatch, ckpt: str, **trigger):
    from decisions_kinesis_spark.streaming.runtime import filtered_stream, start_dispatch

    stream = (
        b.spark.readStream.format("dks_kinesis")
        .option("startingPosition", "TRIM_HORIZON")
        .load(log_dir)
    )
    return start_dispatch(
        filtered_stream(stream, queue_config()),
        dispatch.handler,
        ckpt,
        backoff=_backoff(),
        sleeper=dispatch.sleeper,
        **trigger,
    )


def _envelope_frame(b: Bench):
    """~100k envelope rows from ``events``: payload ``{"k", "event_type"}``,
    a seed-chosen ~1% replaced by non-JSON text."""
    from pyspark.sql import functions as F

    from decisions_kinesis_spark.sources.tables import load_table

    _fixture_dir()
    ev = load_table(b.spark, "events")
    payload = F.to_json(
        F.struct(
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            F.col("event_type"),
        )
    )
    invalid = F.pmod(F.xxhash64("event_id", F.lit(b.seed)), F.lit(100)) == 0
    return ev.select(
        F.col("event_id"),
        F.when(invalid, F.concat(F.lit("not-json-"), F.col("event_id").cast("string")))
        .otherwise(payload)
        .alias("data"),
        F.col("user_id").cast("string").alias("partitionKey"),
        F.col("ts").alias("approximateArrivalTimestamp"),
    )


def _produce(frame, log_dir: str) -> None:
    frame.drop("event_id").write.format("dks_kinesis").mode("append").option(
        "numShards", str(NUM_SHARDS)
    ).save(log_dir)


def _read_shard_logs(log_dir: str) -> dict[str, list[str]]:
    out = {}
    for fn in sorted(os.listdir(log_dir)):
        if fn.startswith("shardId-") and fn.endswith(".jsonl"):
            with open(os.path.join(log_dir, fn), encoding="utf-8") as f:
                out[fn[: -len(".jsonl")]] = [json.loads(line)["data"] for line in f]
    return out


def _read_sink(sink_path: str):
    """(shardId, seq, epoch, stamp seconds) of every delivered row."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    table = ds.dataset(sink_path, format="parquet", partitioning="hive").to_table(
        columns=["shardId", "sequenceNumber", "approximateArrivalTimestamp", "epoch"]
    )
    ts = pc.cast(table.column("approximateArrivalTimestamp"), "timestamp[us]")
    return [
        (s, int(q), int(e), t / 1e6)
        for s, q, e, t in zip(
            table.column("shardId").to_pylist(),
            table.column("sequenceNumber").to_pylist(),
            table.column("epoch").to_pylist(),
            pc.cast(ts, "int64").to_pylist(),
        )
    ]


def _check(b: Bench, log_dir: str, sink_path: str) -> list[tuple]:
    """Compare the sink with the model over the shard logs; return the
    delivered rows."""
    from decisions_kinesis_spark.functions.filters import payload_filters_py

    cfg = queue_config()
    logs = _read_shard_logs(log_dir)
    expected = expected_delivery(
        logs, lambda p: payload_filters_py(p, cfg.payload_filters, cfg.use_or)
    )
    delivered = _read_sink(sink_path) if os.path.isdir(sink_path) else []
    verdict = check_delivery(expected, [(s, q, e) for s, q, e, _ in delivered])
    b.details["delivery"] = verdict
    b.mismatches += verdict["mismatches"]
    b.failed += verdict["missing"]
    rows_in = sum(len(v) for v in logs.values())
    b.attempted += rows_in
    b.layer["functions.filters.rows_in"] = rows_in
    b.layer["functions.filters.rows_out"] = len(delivered)
    b.layer["functions.filters.pass_ratio"] = len(delivered) / max(1, rows_in)
    return delivered


def _stream_layers(b: Bench, query, dispatch: Dispatch) -> None:
    progress = [p for p in query.recentProgress if p.numInputRows > 0]

    def p50(key):
        vals = [p.durationMs.get(key, 0) for p in progress]
        return statistics.median(vals) if vals else 0

    b.layer["streaming.batches"] = len(progress)
    b.layer["streaming.rows_per_batch_p50"] = (
        statistics.median(p.numInputRows for p in progress) if progress else 0
    )
    b.layer["streaming.trigger_ms_p50"] = p50("triggerExecution")
    b.layer["streaming.add_batch_ms_p50"] = p50("addBatch")
    b.layer["streaming.query_planning_ms_p50"] = p50("queryPlanning")
    b.layer["streaming.wal_commit_ms_p50"] = p50("walCommit")
    b.layer["streaming.commit_offsets_ms_p50"] = p50("commitOffsets")
    b.layer["sources.pyds.latest_offset_ms_p50"] = p50("latestOffset")
    b.layer["streaming.dispatch.handler_s_p50"] = (
        statistics.median(dispatch.handler_s) if dispatch.handler_s else 0
    )
    b.layer["streaming.dispatch.attempts"] = dispatch.attempts
    b.layer["streaming.dispatch.retries"] = dispatch.retries
    b.layer["streaming.dispatch.backoff_s"] = dispatch.backoff_s
    b.layer["streaming.dispatch.attempts_per_success"] = dispatch.attempts / max(1, len(dispatch.done))


def _offset_total(progress) -> int:
    """Records the consumer has read up to, from a progress report."""
    end = json.loads(progress.json)["sources"][0].get("endOffset") or {}
    if isinstance(end, str):
        end = json.loads(end)
    return sum(end.values())


def _tail(b: Bench, logs: str, dispatch: Dispatch, ckpt: str, backlog: int):
    """Run the consumer on the 500 ms trigger while the generator
    process appends ``TAIL_RATE`` records/s for ``--seconds`` seconds;
    return the stopped query and the generator's report."""
    dispatch.throttle_from = max(dispatch.done, default=-1) + 1
    q = _start_consumer(b, logs, dispatch, ckpt, trigger_interval=TAIL_TRIGGER)
    # start the load once the stream polls for data, so that the stream's
    # own start-up does not count in record latency
    t0 = time.time()
    while q.status["message"] != "Waiting for data to arrive" and time.time() < t0 + 60:
        time.sleep(0.02)
    b.details["tail_ready_s"] = time.time() - t0
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "generator.py"),
            "--dir", logs, "--seed", str(b.seed),
            "--rate", str(TAIL_RATE), "--seconds", str(b.seconds),
            "--shards", str(NUM_SHARDS),
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    out, _ = gen.communicate()
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    b.load_cpu_s = ru1.ru_utime + ru1.ru_stime - ru0.ru_utime - ru0.ru_stime
    if gen.returncode != 0:
        q.stop()
        raise RuntimeError(f"generator exited with {gen.returncode}")
    stats = json.loads(out.strip().splitlines()[-1])
    # catch up: wait until the consumer has read every record; records
    # still unread at the bound are missing from the sink and count failed
    deadline = time.time() + CATCHUP_BOUND_S
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None and _offset_total(p) >= backlog + stats["sent"]:
            break
        time.sleep(0.02)
    q.stop()
    return q, stats


def kinesis_consumer(b: Bench) -> None:
    """The consumer lifecycle on one shard-log stream and one checkpoint.

    1. Backlog: publish the ~100k envelope records with
       ``df.write.format("dks_kinesis")``, then drain them from the
       checkpoint with ``availableNow`` through ``filtered_stream`` →
       ``start_dispatch`` → the idempotent sink.  ``pass_s`` is publish
       plus drain; the traced run splits it into producer and drain
       throughput.  One round, not several smaller ones: a round costs
       about 4.5 s of fixed start-up whatever its size.
    2. Tail: open loop from the generator process on the 500 ms
       trigger, resuming the same checkpoint.  The latency of a tail
       record runs from its generator stamp to the completion of the
       handler that delivered it; ``latency_p50_s`` is their median.
    """

    def warm():
        logs = b.path("warm", "logs")
        _produce(_envelope_frame(b).limit(2000), logs)
        q = _start_consumer(b, logs, Dispatch(b.path("warm", "sink")), b.path("warm", "ckpt"),
                            available_now=True)
        q.awaitTermination()

    b.setup(warm)
    frame = _envelope_frame(b)
    logs, sink, ckpt = b.path("logs"), b.path("sink"), b.path("ckpt")
    random.seed(b.seed)  # BackoffPolicy jitter repeats per seed
    dispatch = Dispatch(sink)
    with b.timed():
        t0 = time.perf_counter()
        with b.spans.span("sources.pyds.write"):
            b.job_group("produce", "exec")
            _produce(frame, logs)
        t1 = time.perf_counter()
        with b.spans.span("streaming.drain"):
            b.job_group("drain", "exec")
            _start_consumer(b, logs, dispatch, ckpt, available_now=True).awaitTermination()
        t2 = time.perf_counter()
        backlog_epochs = set(dispatch.done)
        backlog = sum(len(v) for v in _read_shard_logs(logs).values())
        with b.spans.span("streaming.tail"):
            q, stats = _tail(b, logs, dispatch, ckpt, backlog)
    _stream_layers(b, q, dispatch)
    delivered = _check(b, logs, sink)
    last_done = max(dispatch.done.values())
    lat = b.set_pass(
        t2 - t0,
        [dispatch.done[e] - ts for _, _, e, ts in delivered if e not in backlog_epochs],
    )
    b.layer["streaming.latency_p99_s"] = lat["p99"]
    b.layer["sources.pyds.write_s"] = t1 - t0
    b.layer["sources.pyds.write_records_per_s"] = backlog / (t1 - t0)
    b.layer["streaming.drain_records_per_s"] = backlog / (t2 - t1)
    b.layer["streaming.catchup_after_stop_s"] = last_done - stats["last_sent"]
    b.layer["generator.sent_records"] = stats["sent"]
    b.layer["generator.late_max_s"] = stats["late_max_s"]
    b.details["generator"] = stats

    if b.trace:
        from pyspark.sql import functions as F

        from decisions_kinesis_spark.functions.filters import apply_payload_filters

        cfg = queue_config()
        n = b.layer["functions.filters.rows_in"]
        scan = b.spark.read.format("dks_kinesis").load(logs)
        t0 = time.perf_counter()
        b.job_group("scan", "exec")
        scan.count()
        t_scan = time.perf_counter() - t0
        decoded = scan.withColumn("messageText", F.decode("data", "UTF-8"))
        t0 = time.perf_counter()
        b.job_group("filter", "exec")
        apply_payload_filters(decoded, "messageText", cfg.payload_filters, cfg.use_or).count()
        t_filter = time.perf_counter() - t0
        b.layer["sources.pyds.scan_records_per_s"] = n / t_scan
        b.layer["functions.filters.records_per_s"] = (
            n / (t_filter - t_scan) if t_filter > t_scan else 0
        )
    b.finish()


WORKLOADS = {
    "relational_mix": relational_mix,
    "kinesis_consumer": kinesis_consumer,
}
