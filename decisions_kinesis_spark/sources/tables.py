"""Batch table loaders for the driver's parquet fixtures (TESTDATA.md).

Plain ``spark.read.parquet`` — Catalyst handles predicate pushdown,
column pruning, and partition listing (the batch analog of shard
discovery S3, KinesisThreadJobs.cs:201-218).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from decisions_kinesis_spark.session import SessionMemo, apply_session_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Analyzed-relation cache: the fixtures are immutable, so the parquet
#: footer/schema read and DataFrame construction (~180 ms via py4j) are
#: paid once per (session, sf_dir, table) instead of once per query —
#: the catalog-metadata cache every real engine keeps.
_RELATION_CACHE = SessionMemo()


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    # a session the caller built itself gets the engine confs (UTC
    # among them) on its first load_table
    apply_session_conf(spark)
    return _RELATION_CACHE.get_or_build(
        spark, (sf_dir, name), lambda: _read(spark, name, sf_dir)
    )


def _read(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet comes out
        # TimestampNTZ under inferTimestampNTZ; normalize to LTZ.  The
        # session tz is UTC, so the NTZ→LTZ cast reinterprets the naive
        # value as UTC — the same instants DuckDB sees for its naive
        # TIMESTAMP.  The cast target is the EXPLICIT TimestampType (not
        # the "timestamp" alias, which resolves through
        # spark.sql.timestampType and would silently no-op if a caller
        # overrode that conf to NTZ).
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    return df


#: Row-count cache next to the relation cache: adaptive operators (IVF
#: centroid modulus, LSH plane count) size themselves from N; the
#: fixtures are immutable, so one column-pruned count per (session,
#: sf_dir, table) serves every query in the session.
_COUNT_CACHE = SessionMemo()


def table_count(spark: SparkSession, name: str, sf_dir: str | None = None) -> int:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    return _COUNT_CACHE.get_or_build(
        spark, (sf_dir, name), lambda: load_table(spark, name, sf_dir).count()
    )
