"""Record-envelope operators (SURVEY.md §1.1, §2 D1-D5).

The canonical ingest schema mirrors what a Kinesis/Kafka Spark source
exposes — one source partition per shard (KinesisThreadJobs.cs:201-218):

  data BINARY, partitionKey STRING, sequenceNumber STRING,
  approximateArrivalTimestamp TIMESTAMP, streamName STRING,
  shardId STRING, encryptionType STRING

All operators are pure Column expressions — JVM-side, codegen'd,
shuffle-free; they cost nothing extra at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("data", T.BinaryType(), True),
        T.StructField("partitionKey", T.StringType(), True),
        T.StructField("sequenceNumber", T.StringType(), True),
        T.StructField("approximateArrivalTimestamp", T.TimestampType(), True),
        T.StructField("streamName", T.StringType(), True),
        T.StructField("shardId", T.StringType(), True),
        T.StructField("encryptionType", T.StringType(), True),
    ]
)


def decode_utf8(data: Column) -> Column:
    """D1 — bytes → UTF-8 text (KinesisThreadJobs.cs:690-691)."""
    return F.decode(data, "UTF-8")


def record_metadata(df: DataFrame) -> DataFrame:
    """D4 — metadata projection (KinesisUtils.cs:146-163)."""
    return df.select("partitionKey", "sequenceNumber", "approximateArrivalTimestamp")


def record_data(df: DataFrame) -> DataFrame:
    """D5 — EncryptionType projection, default "None" (KinesisUtils.cs:166-183)."""
    return df.select(
        F.coalesce(F.col("encryptionType"), F.lit("None")).alias("encryptionType")
    )

