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

from decisions_kinesis_spark.session import apply_session_conf, session_key

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
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    # a session the caller built itself gets the engine confs (UTC,
    # nanosAsLong) on its first load_table
    apply_session_conf(spark)
    key = (session_key(spark), sf_dir, name)
    cached = _RELATION_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ts_type = dict(df.dtypes).get("ts") if name == "events" else None
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) parquet read as long-nanos under nanosAsLong:
        # Spark has no nanosecond timestamp type, so truncate to
        # microseconds — what DuckDB does when casting TIMESTAMP_NS →
        # TIMESTAMP.  Integer division: ns-since-epoch overflows double.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet comes out
        # TimestampNTZ under inferTimestampNTZ; normalize to LTZ.  The
        # session tz is UTC, so the NTZ→LTZ cast reinterprets the naive
        # value as UTC — the same instants DuckDB sees for its naive
        # TIMESTAMP.  The cast target is the EXPLICIT TimestampType (not
        # the "timestamp" alias, which resolves through
        # spark.sql.timestampType and would silently no-op if a caller
        # overrode that conf to NTZ).
        df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    _RELATION_CACHE[key] = df
    return df


#: Row-count cache next to the relation cache: adaptive operators (IVF
#: centroid modulus, LSH plane count) size themselves from N; the
#: fixtures are immutable, so one column-pruned count per (session,
#: sf_dir, table) serves every query in the session.
_COUNT_CACHE: dict[tuple[str, str, str], int] = {}


def table_count(spark: SparkSession, name: str, sf_dir: str | None = None) -> int:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    key = (session_key(spark), sf_dir, name)
    n = _COUNT_CACHE.get(key)
    if n is None:
        n = load_table(spark, name, sf_dir).count()
        _COUNT_CACHE[key] = n
    return n


def load_tables(
    spark: SparkSession, sf_dir: str | None = None, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, sf_dir) for n in names}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
