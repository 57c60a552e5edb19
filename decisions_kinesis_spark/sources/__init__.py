from decisions_kinesis_spark.sources.tables import TABLE_NAMES, load_table  # noqa: F401
