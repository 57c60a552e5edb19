"""Streaming runtime tests (SURVEY.md §5 plan #3).

``consume()`` runs over ``dks_kinesis`` shard logs: filtering against
the batch oracle, checkpoint recovery (C4-C6 analog), the configured
start position and per-shard poll cap.  The dispatch wrapper (P1 + R1:
at-least-once redelivery, retry/backoff, ordering, idempotent sink) is
tested on a paced parquet file stream of the same envelope rows.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from decisions_kinesis_spark.config import (
    START_FROM_LATEST,
    FilterVerb,
    KinesisQueueConfig,
    PayloadFilter,
)
from decisions_kinesis_spark.functions.envelope import ENVELOPE_SCHEMA
from decisions_kinesis_spark.sources.pyds import register
from decisions_kinesis_spark.streaming.runtime import (
    BackoffPolicy,
    ThrottleError,
    TransientServiceError,
    consume,
    default_retryable,
    filtered_stream,
    start_dispatch,
)


def _envelope(spark, sf_dir):
    register(spark)
    return spark.read.format("dks_kinesis").load(f"{sf_dir}/events.parquet")


def _write_logs(df, log_dir):
    df.write.format("dks_kinesis").option("numShards", "4").mode("append").save(
        log_dir
    )


@pytest.fixture()
def staged(spark, sf_dir):
    """Stage the envelope rows as 4 parquet files = 4 paced batches."""
    tmp = tempfile.mkdtemp(prefix="dks-stream-")
    src = f"{tmp}/source"
    env = _envelope(spark, sf_dir)
    env.repartition(4).write.parquet(src)
    yield tmp, src, env
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture()
def logs(spark, sf_dir):
    """The envelope rows published to 4 ``dks_kinesis`` shard logs."""
    tmp = tempfile.mkdtemp(prefix="dks-consume-")
    log_dir = f"{tmp}/logs"
    env = _envelope(spark, sf_dir)
    _write_logs(env, log_dir)
    yield tmp, log_dir, env
    shutil.rmtree(tmp, ignore_errors=True)


def _file_stream(spark, src, files_per_trigger=None):
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(src)


def _keys(batch_df):
    # shard-log sequence numbers are per-shard line indexes
    return [
        (r.shardId, r.sequenceNumber)
        for r in batch_df.select("shardId", "sequenceNumber").collect()
    ]


def _purchase_config() -> KinesisQueueConfig:
    return KinesisQueueConfig(
        stream_name="events",
        payload_filters=[PayloadFilter("k", FilterVerb.GREATER_THAN, "50")],
    )


def test_consume_filters_and_dispatches(spark, logs):
    tmp, src, env = logs
    cfg = _purchase_config()
    seen: list[int] = []

    def handler(batch_df, epoch_id):
        seen.append(batch_df.count())

    q = consume(spark, src, cfg, handler, f"{tmp}/ckpt")
    q.processAllAvailable()
    q.stop()
    # lexicographic '>' on k: matches the batch oracle exactly
    expected = (
        env.withColumn("text", F.decode("data", "UTF-8"))
        .filter(F.get_json_object("text", "$.k") > "50")
        .count()
    )
    assert sum(seen) == expected > 0


def test_checkpoint_no_redelivery_on_restart(spark, logs):
    """C4 analog: a restarted query resumes after the last committed
    batch — already-processed records are not redelivered."""
    tmp, src, env = logs
    cfg = KinesisQueueConfig(stream_name="events")
    keys: list[tuple[str, str]] = []

    def handler(batch_df, epoch_id):
        keys.extend(_keys(batch_df))

    q = consume(spark, src, cfg, handler, f"{tmp}/ckpt2")
    q.processAllAvailable()
    q.stop()
    assert len(keys) == len(set(keys)) == env.count()

    keys.clear()
    q = consume(spark, src, cfg, handler, f"{tmp}/ckpt2")
    q.processAllAvailable()
    q.stop()
    assert keys == []  # nothing redelivered


def test_consume_start_from_latest_skips_backlog(spark, logs):
    """C6: START_FROM_LATEST over an existing backlog delivers nothing;
    records published later are delivered, stamped with the configured
    stream name."""
    tmp, src, env = logs
    cfg = KinesisQueueConfig(
        stream_name="orders-feed", initial_stream_position=START_FROM_LATEST
    )
    rows: list = []

    def handler(batch_df, epoch_id):
        rows.extend(batch_df.select("streamName", "shardId", "sequenceNumber").collect())

    q = consume(spark, src, cfg, handler, f"{tmp}/ckpt-latest")
    try:
        q.processAllAvailable()
        assert rows == []  # the backlog is skipped
        _write_logs(env.limit(50), src)
        q.processAllAvailable()
    finally:
        q.stop()
    assert len({(r.shardId, r.sequenceNumber) for r in rows}) == len(rows) == 50
    assert {r.streamName for r in rows} == {cfg.stream_name}


def test_consume_caps_steady_state_polls_per_shard(spark, logs):
    """MaxRecordsPerRequest: once the backlog has drained, a burst
    published to one shard pages through in polls of at most
    ``max_records_per_request`` records per shard (the first poll after
    a start is uncapped — see ``consume``)."""
    tmp, src, env = logs
    cfg = KinesisQueueConfig(
        stream_name="events", max_records_per_request=7, shard_batch_wait_time_s=0
    )
    batches: list[list[tuple[str, str]]] = []
    q = consume(
        spark, src, cfg, lambda df, _: batches.append(_keys(df)), f"{tmp}/ckpt-cap"
    )
    try:
        q.processAllAvailable()
        n_before = len(batches)
        burst = spark.createDataFrame(
            [(f"b-{i}".encode(), "burst") for i in range(60)],
            "data binary, partitionKey string",
        )
        _write_logs(burst, src)  # one partition key: one shard
        q.processAllAvailable()
    finally:
        q.stop()
    flat = [k for b in batches for k in b]
    assert len(flat) == len(set(flat)) == env.count() + 60
    burst_batches = [b for b in batches[n_before:] if b]
    assert sum(len(b) for b in burst_batches) == 60
    for b in burst_batches:
        per_shard: dict[str, int] = {}
        for shard, _seq in b:
            per_shard[shard] = per_shard.get(shard, 0) + 1
        assert all(n <= cfg.max_records_per_request for n in per_shard.values())


def test_consume_takes_pacing_and_backoff_from_config(spark, tmp_path, monkeypatch):
    """The queue config is the only source of ``consume``'s dispatch
    settings: BatchWaitTime paces the trigger, MaxRetries and
    ErrorBackoffTime build the backoff."""
    from decisions_kinesis_spark.streaming import runtime

    calls: list[dict] = []
    monkeypatch.setattr(
        runtime, "start_dispatch", lambda *args, **kwargs: calls.append(kwargs)
    )
    cfg = KinesisQueueConfig(
        stream_name="events",
        shard_batch_wait_time_s=3,
        max_retries=0,
        error_backoff_time_s=7,
    )
    consume(spark, str(tmp_path), cfg, lambda df, _: None, str(tmp_path / "ckpt"))
    assert calls == [
        {
            "backoff": BackoffPolicy(max_retries=0, base_delay_s=7.0),
            "trigger_interval": "3 seconds",
        }
    ]


def test_at_least_once_redelivery_after_crash(spark, staged):
    """P1 contract: handler success without checkpoint commit ⇒ the
    batch is redelivered on restart (at-least-once, not exactly-once).

    Simulated by crashing the query AFTER the handler ran (raise on the
    first batch after side effect), then restarting.
    """
    tmp, src, env = staged
    cfg = KinesisQueueConfig(stream_name="events")
    delivered: list[tuple[int, int]] = []
    crash = {"armed": True}

    def handler(batch_df, epoch_id):
        n = batch_df.count()
        delivered.append((epoch_id, n))
        if crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("simulated crash after side effect")

    stream = _file_stream(spark, src, files_per_trigger=1)
    q = start_dispatch(
        stream,
        handler,
        f"{tmp}/ckpt3",
        backoff=BackoffPolicy(max_retries=0, base_delay_s=0.0),
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    n_before = sum(n for _, n in delivered)
    assert n_before > 0

    q = start_dispatch(
        stream,
        handler,
        f"{tmp}/ckpt3",
        backoff=BackoffPolicy(max_retries=0, base_delay_s=0.0),
    )
    q.processAllAvailable()
    q.stop()
    total = sum(n for _, n in delivered)
    # the crashed batch was delivered twice: total > dataset size
    assert total == env.count() + n_before


def test_retry_backoff_then_success(spark, staged):
    """R1: transient handler failures are retried with backoff; the
    batch commits after eventual success (no redelivery)."""
    tmp, src, env = staged
    fails = {"left": 2}
    sleeps: list[float] = []
    delivered: list[int] = []

    def flaky(batch_df, epoch_id):
        if fails["left"] > 0:
            fails["left"] -= 1
            raise ThrottleError("throughput exceeded")
        delivered.append(batch_df.count())

    stream = _file_stream(spark, src)
    q = start_dispatch(
        stream,
        flaky,
        f"{tmp}/ckpt4",
        backoff=BackoffPolicy(max_retries=3, base_delay_s=0.01, max_delay_s=0.05),
        sleeper=sleeps.append,
    )
    q.processAllAvailable()
    q.stop()
    assert sum(delivered) == env.count()
    assert len(sleeps) == 2  # two retries slept
    assert all(0 < s <= 0.05 for s in sleeps)


def test_non_retryable_error_fails_with_zero_sleeps(spark, staged):
    """R1 classification (KinesisThreadJobs.cs:83-88): "Don't retry on
    other exceptions" — a poison-pill handler error must fail the batch
    immediately, with no backoff sleeps, even with retries budgeted."""
    tmp, src, env = staged
    sleeps: list[float] = []
    calls = {"n": 0}

    def poison(batch_df, epoch_id):
        calls["n"] += 1
        raise ValueError("malformed record")

    stream = _file_stream(spark, src)
    q = start_dispatch(
        stream,
        poison,
        f"{tmp}/ckpt-poison",
        backoff=BackoffPolicy(max_retries=3, base_delay_s=0.01, max_delay_s=0.05),
        sleeper=sleeps.append,
    )
    with pytest.raises(Exception):
        q.processAllAvailable()
    q.stop()
    assert calls["n"] == 1  # exactly one attempt, no retries
    assert sleeps == []  # zero backoff sleeps


def test_classify_aws_error_passthrough_without_botocore():
    """Without botocore (this container) or for non-AWS exceptions, the
    mapper returns the exception unchanged → non-retryable, matching
    the reference's 'Don't retry on other exceptions'."""
    from decisions_kinesis_spark.sources.kinesis import classify_aws_error

    e = ValueError("app bug")
    assert classify_aws_error(e) is e
    assert not default_retryable(classify_aws_error(e))


def test_default_retryable_classification():
    """Mirrors the reference catch ladder (KinesisThreadJobs.cs:60-88):
    throttle/limit → retry; service 500/503 → retry; service 4xx and
    arbitrary exceptions → rethrow."""
    assert default_retryable(ThrottleError("slow down"))
    assert default_retryable(TransientServiceError("ISE", status_code=500))
    assert default_retryable(TransientServiceError("unavailable", status_code=503))
    assert not default_retryable(TransientServiceError("denied", status_code=400))
    assert not default_retryable(TransientServiceError("teapot", status_code=418))
    assert not default_retryable(RuntimeError("app bug"))
    assert not default_retryable(ValueError("bad input"))


def test_ordered_batch_restores_per_shard_sequence_order(spark, staged):
    """Fidelity of the reference's per-shard ordering contract
    (KinesisThreadJobs.cs:384 foreach in GetRecords order): within each
    partitionKey, rows come out in ascending sequenceNumber order."""
    from decisions_kinesis_spark.streaming.runtime import ordered_batch

    tmp, src, env = staged
    seen: dict[str, list[int]] = {}

    def handler(batch_df, epoch_id):
        for row in ordered_batch(batch_df).toLocalIterator():
            seen.setdefault(row.partitionKey, []).append(int(row.sequenceNumber))

    stream = _file_stream(spark, src)
    q = start_dispatch(
        stream, handler, f"{tmp}/ckpt-order",
        backoff=BackoffPolicy(max_retries=0, base_delay_s=0.0),
    )
    q.processAllAvailable()
    q.stop()
    assert seen
    for key, seqs in seen.items():
        assert seqs == sorted(seqs), f"shard {key} out of order"


def test_idempotent_sink_exactly_once_after_crash(spark, staged):
    """Exactly-once via epoch-keyed sink over at-least-once delivery:
    crash AFTER the sink wrote but BEFORE the commit, restart, and the
    redelivered epoch overwrites itself — the sink holds every source
    row exactly once."""
    from decisions_kinesis_spark.streaming.runtime import idempotent_parquet_sink

    tmp, src, env = staged
    sink_dir = f"{tmp}/sink"
    write = idempotent_parquet_sink(sink_dir)
    crashed = {"yet": False}

    def crash_once_handler(batch_df, epoch_id):
        write(batch_df, epoch_id)
        if not crashed["yet"]:
            crashed["yet"] = True
            raise ValueError("simulated crash after sink write")

    stream = _file_stream(spark, src)
    q = start_dispatch(
        stream, crash_once_handler, f"{tmp}/ckpt-idem",
        backoff=BackoffPolicy(max_retries=0, base_delay_s=0.0),
    )
    with pytest.raises(Exception):
        q.processAllAvailable()
    q.stop()
    # restart: the crashed epoch is REDELIVERED (at-least-once)...
    q = start_dispatch(
        stream, crash_once_handler, f"{tmp}/ckpt-idem",
        backoff=BackoffPolicy(max_retries=0, base_delay_s=0.0),
    )
    q.processAllAvailable()
    q.stop()
    # ...but the epoch-keyed overwrite makes the sink exactly-once
    got = spark.read.parquet(sink_dir)
    assert got.count() == env.count()
    assert (
        got.select("sequenceNumber").distinct().count()
        == env.select("sequenceNumber").distinct().count()
    )


def test_available_now_drains_and_terminates(spark, staged):
    """trigger(availableNow): process the whole backlog in paced
    micro-batches, then terminate on its own (no stop() needed) —
    the periodic catch-up pattern."""
    tmp, src, env = staged
    batches: list[int] = []

    stream = _file_stream(spark, src, files_per_trigger=1)
    q = start_dispatch(
        stream,
        lambda df, _: batches.append(df.count()),
        f"{tmp}/ckpt-avnow",
        backoff=BackoffPolicy(max_retries=0, base_delay_s=0.0),
        available_now=True,
    )
    assert q.awaitTermination(120)  # terminates by itself
    assert sum(batches) == env.count()
    assert len(batches) >= 2  # still paced by maxFilesPerTrigger


def test_clean_source_deletes_processed_files(spark, staged):
    """cleanSource=delete: the file source removes files once their
    batch commits (the retention story for a staged-file ingest dir) —
    only the final batch's file can still be pending at stop."""
    import glob
    import time

    tmp, src, env = staged
    stream = (
        spark.readStream.schema(env.schema)
        .option("maxFilesPerTrigger", 1)
        .option("cleanSource", "delete")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", f"{tmp}/ckpt-clean")
        .start()
    )
    q.processAllAvailable()
    # cleanup runs as batches commit — poll rather than fixed-sleep so a
    # loaded box doesn't flake the assertion
    remaining = 99
    for _ in range(20):
        remaining = len(glob.glob(f"{src}/part-*.parquet"))
        if remaining <= 1:
            break
        time.sleep(0.5)
    q.stop()
    assert remaining <= 1  # all but (at most) the last file cleaned


def test_backoff_policy_formula():
    """delay = base·2^attempt + U(0,1), capped (KinesisThreadJobs.cs:107-117)."""
    p = BackoffPolicy(max_retries=5, base_delay_s=5.0, max_delay_s=32.0)
    d0, d1, d3 = p.delay(0), p.delay(1), p.delay(3)
    assert 5.0 <= d0 <= 6.0
    assert 10.0 <= d1 <= 11.0
    assert d3 == 32.0  # 40 + jitter capped


def test_filtered_stream_is_streaming_plan(spark, tmp_path):
    register(spark)
    cfg = _purchase_config()
    stream = spark.readStream.format("dks_kinesis").load(str(tmp_path))
    out = filtered_stream(stream, cfg)
    assert out.isStreaming
    assert "messageText" in out.columns
