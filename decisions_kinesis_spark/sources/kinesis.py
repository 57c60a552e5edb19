"""Kinesis connector configuration surface (S1-S4, L3, P2, P3).

Maps the reference's queue/settings config onto the option set of the
public Spark Kinesis connectors (spark-sql-kinesis style).  No AWS
call happens here — this is pure option marshaling, integration-tested
as such (SURVEY.md §7 M5: "no AWS in CI"); ``boto3``-backed helpers
are gated behind an import-try.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from decisions_kinesis_spark.config import (
    AUTH_STATIC,
    START_FROM_LATEST,
    START_FROM_OLDEST,
    KinesisQueueConfig,
)

try:  # optional; absent in this container
    import boto3  # type: ignore
except ImportError:
    boto3 = None


def connector_options(config: KinesisQueueConfig) -> dict[str, str]:
    """KinesisQueueConfig → connector option map, for the AWS connector
    and the native ``dks_kinesis`` source alike (the latter reads
    ``streamName``, ``startingposition`` and ``maxFetchRecordsPerShard``
    and ignores the rest).

    Starting-position resolution mirrors C6 (KinesisThreadJobs.cs:
    533-556): a checkpoint dir always wins (Structured Streaming reads
    its own offsets first); otherwise oldest → TRIM_HORIZON, latest →
    LATEST.
    """
    config.require_valid()
    s = config.settings
    opts: dict[str, str] = {
        "streamName": config.stream_name,
        "region": s.region,
        "startingposition": (
            "TRIM_HORIZON"
            if config.initial_stream_position == START_FROM_OLDEST
            else "LATEST"
        ),
        "maxFetchRecordsPerShard": str(config.max_records_per_request),
        "retryTimeoutMs": str(config.request_timeout_s * 1000),
        "maxRetries": str(config.max_retries),
        "describeShardInterval": f"{config.shard_poll_interval_s}s",
    }
    if config.use_enhanced_fan_out:
        opts["consumerType"] = "EFO"
        if config.consumer_arn:
            opts["consumerArn"] = config.consumer_arn
        if config.consumer_name:
            opts["consumerName"] = config.consumer_name
    if config.override_settings and s.authentication_method == AUTH_STATIC:
        opts["awsAccessKeyId"] = s.access_key_id or ""
        opts["awsSecretKey"] = s.secret_access_key or ""
    if config.override_settings and s.use_role_arn and s.role_arn:
        opts["roleArn"] = s.role_arn
        opts["roleSessionName"] = "DecisionsKinesisSession"
    return opts


def read_kinesis_stream(spark: SparkSession, config: KinesisQueueConfig) -> DataFrame:
    """S1/S2 — real connector source (requires the kinesis connector jar
    on the classpath; raises a clear error here where it is absent)."""
    return (
        spark.readStream.format("aws-kinesis")
        .options(**connector_options(config))
        .load()
    )


def classify_aws_error(exc: BaseException) -> BaseException:
    """Map a live AWS error onto the engine's retryable taxonomy
    (streaming.runtime.ThrottleError / TransientServiceError), so the
    dispatch loop's ``default_retryable`` classifies real boto3
    failures the way the reference's catch ladder classifies SDK
    exceptions (KinesisThreadJobs.cs:60-88).  Non-AWS exceptions pass through
    unchanged (→ non-retryable, matching "Don't retry on other
    exceptions").  Usage in a handler::

        try:
            ...aws call...
        except Exception as e:
            raise classify_aws_error(e) from e
    """
    try:
        from botocore.exceptions import ClientError  # type: ignore
    except ImportError:
        return exc
    from decisions_kinesis_spark.streaming.runtime import (
        ThrottleError,
        TransientServiceError,
    )

    if isinstance(exc, ClientError):
        code = exc.response.get("Error", {}).get("Code", "")
        status = int(
            exc.response.get("ResponseMetadata", {}).get("HTTPStatusCode", 0) or 0
        )
        if code in (
            "ProvisionedThroughputExceededException",
            "LimitExceededException",
        ):
            return ThrottleError(code)
        return TransientServiceError(code, status_code=status)
    return exc


def _boto3_client(config: KinesisQueueConfig):
    """Build the Kinesis client per the CONFIGURED auth method — static
    keys / assumed role / default chain — mirroring the reference's
    per-method client construction (KinesisUtils.cs:89-143).  The
    connector path marshals the same credentials via connector_options;
    this is the boto3 side of the same contract."""
    s = config.settings
    kwargs: dict[str, Any] = {"region_name": s.region}
    if s.authentication_method == AUTH_STATIC:
        kwargs["aws_access_key_id"] = s.access_key_id
        kwargs["aws_secret_access_key"] = s.secret_access_key
    if s.use_role_arn and s.role_arn:
        # AUTO-REFRESHING assume-role credentials, matching the
        # reference's AssumeRoleAWSCredentials (KinesisUtils.cs:131):
        # a one-shot sts.assume_role would expire after the STS TTL
        # (~1 h) and long-held clients would start failing.  botocore
        # re-invokes the refresher before expiry.
        from botocore.credentials import RefreshableCredentials
        from botocore.session import get_session as _botocore_session

        sts = boto3.client("sts", **kwargs)

        def _refresh() -> dict[str, str]:
            creds = sts.assume_role(
                RoleArn=s.role_arn, RoleSessionName="DecisionsKinesisSession"
            )["Credentials"]
            return {
                "access_key": creds["AccessKeyId"],
                "secret_key": creds["SecretAccessKey"],
                "token": creds["SessionToken"],
                "expiry_time": creds["Expiration"].isoformat(),
            }

        bsession = _botocore_session()
        bsession._credentials = RefreshableCredentials.create_from_metadata(
            metadata=_refresh(), refresh_using=_refresh, method="sts-assume-role"
        )
        bsession.set_config_variable("region", s.region)
        return boto3.Session(botocore_session=bsession).client("kinesis")
    return boto3.client("kinesis", **kwargs)


def push_message(config: KinesisQueueConfig, message_id: str, data: bytes) -> dict[str, Any]:
    """P2 — producer sink (KinesisMessageQueueImpl.cs:99-126): single
    synchronous put with PartitionKey = message id."""
    if boto3 is None:
        raise NotImplementedError("boto3 not available in this container")
    client = _boto3_client(config)
    return client.put_record(
        StreamName=config.stream_name, Data=data, PartitionKey=message_id
    )


def test_connection(config: KinesisQueueConfig) -> str:
    """P3 — connection test (KinesisMessageQueueImpl.cs:56-97): describe
    the stream, report status + shard count."""
    if boto3 is None:
        raise NotImplementedError("boto3 not available in this container")
    client = _boto3_client(config)
    desc = client.describe_stream(StreamName=config.stream_name)["StreamDescription"]
    return (
        f"Stream {config.stream_name}: status={desc['StreamStatus']}, "
        f"shards={len(desc['Shards'])}"
    )
