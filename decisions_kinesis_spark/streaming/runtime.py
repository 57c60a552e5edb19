"""Streaming consume pipeline (SURVEY.md §7 M5).

Re-expresses the reference's consumer lifecycle on Structured
Streaming (SURVEY.md §3 lifecycle mapping):

  reference                              this engine
  ---------                              -----------
  ReceiveMessages poll loop              micro-batch planner + trigger
  shard lease acquire/renew/release      task scheduler (exclusive tasks)
  kinesis_checkpoint table (C4-C6)       checkpointLocation offsets/commits WAL
  BatchWaitTime                          trigger(processingTime=...)
  ShardPollInterval                      describeShardInterval (AWS connector)
  MaxRecordsPerRequest                   maxFetchRecordsPerShard (per poll)
  ProcessRecordAsync decode+filter       DataFrame decode + compiled predicate
  ProcessMessage dispatch (P1)           foreachBatch handler
  at-least-once via checkpoint-after-    at-least-once via foreachBatch retry +
  batch (KinesisThreadJobs.cs:405-408)   commit-after-success
  BackoffRetry (R1, :35-118)             exponential backoff in dispatch loop
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from decisions_kinesis_spark.config import KinesisQueueConfig
from decisions_kinesis_spark.functions.envelope import decode_utf8
from decisions_kinesis_spark.functions.filters import compile_payload_filters
from decisions_kinesis_spark.sources.kinesis import connector_options
from decisions_kinesis_spark.sources.pyds import register


class ThrottleError(Exception):
    """Throughput/limit throttle — the engine analog of the reference's
    ProvisionedThroughputExceededException / LimitExceededException
    (KinesisThreadJobs.cs:60-71): always retryable up to max_retries."""


class TransientServiceError(Exception):
    """Service-side error with an HTTP status — the analog of
    AmazonKinesisException (KinesisThreadJobs.cs:74-80): retryable only
    for 500 / 503."""

    def __init__(self, message: str = "", status_code: int = 500):
        super().__init__(message)
        self.status_code = status_code


def default_retryable(exc: BaseException) -> bool:
    """Retryable-error classification, mirroring BackoffRetry's catch
    ladder (KinesisThreadJobs.cs:60-88): throttle → retry; service
    error → retry only on 500/503; anything else → rethrow immediately
    ("Don't retry on other exceptions")."""
    if isinstance(exc, ThrottleError):
        return True
    if isinstance(exc, TransientServiceError):
        return exc.status_code in (500, 503)
    return False


@dataclass
class BackoffPolicy:
    """Exponential backoff with jitter (KinesisThreadJobs.cs:107-117, :226).

    delay = base * 2^attempt + U(0,1) seconds, capped at ``max_delay_s``.
    Reference defaults: base 5 s, cap 32 s, 3 retries.  Only errors that
    ``default_retryable`` accepts are retried (KinesisThreadJobs.cs:
    60-88); any other is rethrown with zero sleeps.  Handlers surface
    transient failures by raising ThrottleError / TransientServiceError
    (live AWS errors map onto them via
    ``sources.kinesis.classify_aws_error``).
    """

    max_retries: int = 3
    base_delay_s: float = 5.0
    max_delay_s: float = 32.0

    def delay(self, attempt: int) -> float:
        return min(
            self.base_delay_s * (2**attempt) + random.random(), self.max_delay_s
        )


def reset_checkpoint(checkpoint_dir: str) -> bool:
    """C5 — checkpoint invalidation (KinesisThreadJobs.cs:667-674): on a
    stale/invalid checkpoint the reference clears it and restarts from
    the configured InitialStreamPosition; here that is deleting the
    checkpoint dir so the next ``start()`` resolves the starting
    position fresh.  Returns True if a checkpoint existed."""
    import shutil
    from pathlib import Path

    p = Path(checkpoint_dir)
    existed = p.exists()
    if existed:
        # strict delete: a swallowed failure would leave the "invalidated"
        # checkpoint alive and silently resume from stale offsets
        shutil.rmtree(p)
        if p.exists():
            raise OSError(f"checkpoint {checkpoint_dir} survived invalidation")
    return existed


def filtered_stream(stream: DataFrame, config: KinesisQueueConfig) -> DataFrame:
    """Decode + compiled payload predicate over the envelope stream —
    the D1/F1/F2 pipeline of ProcessRecordAsync (KinesisThreadJobs.cs:
    690-709) as one codegen'd projection+filter."""
    decoded = stream.withColumn("messageText", decode_utf8(F.col("data")))
    pred = compile_payload_filters(
        F.col("messageText"), config.payload_filters, config.use_or
    )
    return decoded.filter(pred)


def start_dispatch(
    stream: DataFrame,
    handler: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    backoff: BackoffPolicy | None = None,
    trigger_interval: str | None = None,
    available_now: bool = False,
    sleeper: Callable[[float], None] = time.sleep,
) -> StreamingQuery:
    """At-least-once dispatch (P1 + R1): foreachBatch with retry.

    Matches the reference's delivery contract exactly: the handler runs
    before the checkpoint commit, so a crash between handler success
    and commit redelivers the batch (at-least-once,
    KinesisThreadJobs.cs:405-408); a handler failure after all retries
    fails the batch → the query stops → restart redelivers.  ``backoff``
    defaults to ``BackoffPolicy()``, the reference's defaults.
    """
    if backoff is None:
        backoff = BackoffPolicy()

    def _dispatch(batch_df: DataFrame, epoch_id: int) -> None:
        attempt = 0
        while True:
            try:
                handler(batch_df, epoch_id)
                return
            except Exception as exc:
                # Reference classifies retryable vs non-retryable
                # (KinesisThreadJobs.cs:60-88): a poison-pill batch
                # fails immediately with zero backoff sleeps.
                if attempt >= backoff.max_retries or not default_retryable(exc):
                    raise
                sleeper(backoff.delay(attempt))
                attempt += 1

    writer = stream.writeStream.foreachBatch(_dispatch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        # drain-the-backlog-then-stop mode: process everything available
        # at start (in paced micro-batches) and terminate — the periodic
        # catch-up job pattern, checkpoint-compatible with a later
        # continuous run from the same checkpoint dir
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def ordered_batch(batch_df: DataFrame) -> DataFrame:
    """Re-impose the reference's per-shard dispatch order inside a batch.

    The reference processes records strictly in sequence order within a
    shard (foreach over GetRecords, KinesisThreadJobs.cs:384); a
    foreachBatch DataFrame is set-oriented with no row order.  Handlers
    that need the per-shard order (e.g. stateful appliers) sort within
    the shard key: repartition by partitionKey + sortWithinPartitions
    by sequence — per-shard total order without a global sort, the same
    guarantee (and the same non-guarantee ACROSS shards) Kinesis gives.

    Real Kinesis sequence numbers are ~56-digit decimal STRINGS (far
    beyond int64 — a bigint cast would null them all), so ordering is
    (length, string): the numeric order of non-negative decimal strings
    of any length, overflow-free.
    """
    return batch_df.repartition(F.col("partitionKey")).sortWithinPartitions(
        "partitionKey",
        F.length("sequenceNumber"),
        F.col("sequenceNumber"),
    )


def idempotent_parquet_sink(path: str) -> Callable[[DataFrame, int], None]:
    """Exactly-once-per-epoch parquet sink over at-least-once delivery.

    The dispatch contract (P1) redelivers a batch whose handler ran but
    whose commit didn't; a sink keyed by epoch id makes the redelivery
    harmless — the same epoch directory is overwritten with identical
    content, so downstream readers never see duplicates.  This is the
    standard way Structured Streaming upgrades foreachBatch
    at-least-once to effective exactly-once for file sinks.
    """

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    return _write


def consume(
    spark: SparkSession,
    source_path: str,
    config: KinesisQueueConfig,
    handler: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Full consumer pipeline: source → decode/filter → dispatch.

    The one-call equivalent of the reference's queue-enabled lifecycle
    (SURVEY.md §3 entry point 1).  The source is ``dks_kinesis`` over
    the shard-log directory ``source_path``, configured by
    ``connector_options``: ``initial_stream_position`` picks
    TRIM_HORIZON or LATEST (C6; a checkpoint always wins),
    ``stream_name`` fills ``streamName``, and
    ``max_records_per_request`` caps each poll per shard
    (``maxFetchRecordsPerShard``, the GetRecords ``Limit``).  The
    config is the only source of the dispatch's settings too:
    micro-batches are paced ``shard_batch_wait_time_s`` seconds apart
    (the reference's BatchWaitTime, KinesisThreadJobs.cs:425-432; 0
    runs them back to back), and a failed handler is retried up to
    ``max_retries`` times with a backoff based at
    ``error_backoff_time_s`` (``BackoffPolicy``).

    Departures from the reference: the cap holds only for steady-state
    polls.  The first poll after a (re)start returns the true latest
    offset, so a backlog present at start arrives in one batch (see
    ``pyds.KinesisShardLogStreamReader.__init__`` for why a capped
    first poll could regress the offset WAL).  The pacing is Spark's
    processing-time trigger, start to start, whatever the batch held;
    the reference waits after each batch, BatchWaitTime after a full
    one and ShardPollInterval after a short one
    (``shard_poll_interval_s`` reaches only the AWS connector's
    ``describeShardInterval``).
    """
    register(spark)
    stream = (
        spark.readStream.format("dks_kinesis")
        .options(**connector_options(config))
        .load(source_path)
    )
    return start_dispatch(
        filtered_stream(stream, config),
        handler,
        checkpoint_dir,
        backoff=BackoffPolicy(
            max_retries=config.max_retries,
            base_delay_s=float(config.error_backoff_time_s),
        ),
        trigger_interval=f"{config.shard_batch_wait_time_s} seconds",
    )
