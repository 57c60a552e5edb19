"""File-format source/sink surface (SURVEY.md §2 "file formats: none in
reference" → new-engine breadth: parquet is primary; CSV/JSON/ORC are
interchange formats).

Everything goes through explicit schemas — ``inferSchema`` is a full
extra pass over the data and nondeterministic under schema drift, so
the engine never uses it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_table(df: DataFrame, path: str, fmt: str = "parquet", **options) -> None:
    """Sink: columnar (parquet/orc) or line (json/csv) with sane defaults."""
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", True)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


def compact_table(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ``ceil(total_bytes / target_file_bytes)`` files.

    The operational companion to every streaming sink: micro-batches
    leave one file per trigger per partition, and at 100 TB/day the
    resulting millions of small files dominate scan planning time.
    Input size comes from the file listing (no data pass); the rewrite
    is one round-robin repartition — no key skew, parallel write.
    Returns the output file count.
    """
    import math

    sc = spark.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = path.getFileSystem(hconf)
    # in-place guard on FILESYSTEM-resolved qualified paths (plus local
    # realpath for symlinks): overwrite-while-lazily-reading would
    # destroy the source.  String abspath alone misses file:// URIs and
    # symlinked directories naming the same data.
    dst_jpath = jvm.org.apache.hadoop.fs.Path(dst_path)
    src_q = str(fs.makeQualified(path))
    dst_q = str(dst_jpath.getFileSystem(hconf).makeQualified(dst_jpath))
    src_r = os.path.realpath(src_path.removeprefix("file:"))
    dst_r = os.path.realpath(dst_path.removeprefix("file:"))

    def _nested(parent: str, child: str) -> bool:
        return child == parent or child.startswith(parent.rstrip("/") + "/")

    # Reject equality AND nesting in either direction: a destination
    # inside the source (src/compacted) would write into the directory
    # being lazily read; a source inside the destination would be
    # clobbered by the overwrite.
    if (
        _nested(src_q, dst_q)
        or _nested(dst_q, src_q)
        or _nested(src_r, dst_r)
        or _nested(dst_r, src_r)
    ):
        raise ValueError(
            "compact_table cannot compact in place or into a nested/"
            "enclosing path: write to a disjoint path, then swap "
            "directories"
        )
    total = fs.getContentSummary(path).getLength()
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    df.repartition(n_files).write.mode("overwrite").parquet(dst_path)
    return n_files


def read_table_as(
    spark: SparkSession, path: str, fmt: str, schema: T.StructType, **options
) -> DataFrame:
    """Source with mandatory explicit schema (no inference pass)."""
    reader = spark.read.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", True)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)
