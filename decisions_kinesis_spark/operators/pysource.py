"""Registered queries over the Python DataSource path (sources/pyds.py).

These run the envelope scan through ``format("dks_kinesis")`` — the
Spark 4 Python DataSource API — so the correctness gate exercises the
full source stack: partition planning, Arrow-batch emission, and
(in the pushdown variant) the Spark 4.1 ``pushFilters`` hook.

Oracle-ability: the events-adapter mode routes shards as
``user_id mod numShards`` (the driver's ``events`` table uses
``user_id`` as the partition key), which DuckDB reproduces exactly.
Real Kinesis routes by an MD5 ring — the shard-log writer does
(``sources/pyds.py:route_md5``); the adapter's modulo stand-in keeps
the source path fully value-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from decisions_kinesis_spark.sources.pyds import register

_NUM_SHARDS = 8


def _envelope_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register(spark)
    return (
        spark.read.format("dks_kinesis")
        .option("path", f"{sf_dir}/events.parquet")
        .option("numShards", str(_NUM_SHARDS))
        .load()
    )


def pyds_kinesis_shard_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard consumption summary through the Python DataSource:
    record counts, sequence-number range, distinct partition keys, and
    decoded payload size — the numbers a shard-consumer dashboard
    shows (reference lifecycle SURVEY.md §3).  One narrow source scan
    (Arrow batches), one |shards|-key aggregation."""
    env = _envelope_scan(spark, sf_dir)
    return (
        env.withColumn("messageText", F.decode("data", "UTF-8"))
        .groupBy("shardId")
        .agg(
            F.count("*").alias("n_records"),
            F.min(F.col("sequenceNumber").cast("long")).alias("min_seq"),
            F.max(F.col("sequenceNumber").cast("long")).alias("max_seq"),
            F.count_distinct("partitionKey").alias("n_keys"),
            F.sum(F.length("messageText")).cast("long").alias("payload_chars"),
        )
        .orderBy("shardId")
    )


def pyds_kinesis_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-shard drilldown with the shard predicate *pushed into the
    Python source* (Spark 4.1 pushFilters → source-side row mask before
    anything crosses to the JVM): per-partition-key record count and
    payload bytes for one shard."""
    target = "shardId-%012d" % 3
    env = _envelope_scan(spark, sf_dir).filter(F.col("shardId") == target)
    return (
        env.withColumn("messageText", F.decode("data", "UTF-8"))
        .groupBy("partitionKey")
        .agg(
            F.count("*").alias("n_records"),
            F.sum(F.length("messageText")).cast("long").alias("payload_chars"),
            F.min(F.col("sequenceNumber").cast("long")).alias("first_seq"),
        )
        .orderBy(F.col("partitionKey").cast("long"))
    )


QUERIES = {
    "pyds_kinesis_shard_scan": pyds_kinesis_shard_scan,
    "pyds_kinesis_pushdown_scan": pyds_kinesis_pushdown_scan,
}

ORACLES = {
    "pyds_kinesis_shard_scan": """
SELECT printf('shardId-%012d', user_id % 8) AS shardId,
       COUNT(*) AS n_records,
       MIN(event_id) AS min_seq,
       MAX(event_id) AS max_seq,
       COUNT(DISTINCT user_id) AS n_keys,
       CAST(SUM(length(props)) AS BIGINT) AS payload_chars
FROM events
GROUP BY 1
ORDER BY 1
""",
    "pyds_kinesis_pushdown_scan": """
SELECT CAST(user_id AS VARCHAR) AS partitionKey,
       COUNT(*) AS n_records,
       CAST(SUM(length(props)) AS BIGINT) AS payload_chars,
       MIN(event_id) AS first_seq
FROM events
WHERE user_id % 8 = 3
GROUP BY user_id
ORDER BY user_id
""",
}
