"""Envelope operator tests (D1, D4, D5) on the ``dks_kinesis`` batch read
of sf0.001 ``events``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from decisions_kinesis_spark.functions.envelope import (
    ENVELOPE_SCHEMA,
    decode_utf8,
    record_data,
    record_metadata,
)
from decisions_kinesis_spark.sources.pyds import register
from decisions_kinesis_spark.sources.tables import load_table


@pytest.fixture()
def env(spark, sf_dir):
    register(spark)
    return spark.read.format("dks_kinesis").load(f"{sf_dir}/events.parquet")


def test_envelope_schema_and_decode_roundtrip(spark, sf_dir, env):
    events = load_table(spark, "events", sf_dir)
    assert [(f.name, f.dataType) for f in env.schema.fields] == [
        (f.name, f.dataType) for f in ENVELOPE_SCHEMA.fields
    ]
    assert env.count() == events.count()
    # D1: decode(data) round-trips props exactly
    bad = (
        env.select(decode_utf8(F.col("data")).alias("text"))
        .join(events.select(F.col("props").alias("text")), "text", "left_anti")
        .count()
    )
    assert bad == 0


def test_record_metadata_projection(env):
    meta = record_metadata(env)
    assert meta.columns == [
        "partitionKey",
        "sequenceNumber",
        "approximateArrivalTimestamp",
    ]


def test_record_data_encryption_default(env):
    vals = {r.encryptionType for r in record_data(env).distinct().collect()}
    assert vals == {"None"}  # KinesisUtils.cs:173 default
