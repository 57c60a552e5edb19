"""Distributed total-order machinery: the scalable replacement for
single-partition windows.

``range_prefix`` implements the range-partitioned prefix pattern used
by every operator that needs a GLOBAL total order (z-order file
tiling, Pareto cumulative shares): range-repartition on the order
key, eagerly localCheckpoint — the range partitioner RE-SAMPLES per
job, so without pinning one materialization the counting job and the
window job can disagree on partition boundaries (observed: a phantom
65th file in the z-order tiling) — then collect only the
≤|partitions| per-partition subtotals and hand each partition its
starting offsets.  Callers finish with a PARTITIONED window
(row_number / running sum within ``_pid`` plus the offset), so no
single-partition WindowExec ever appears in a plan.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from decisions_kinesis_spark.functions.parallel import materialize


def range_prefix(
    df: DataFrame,
    order_cols: list[Column | str],
    n_parts: int,
    sum_col: str | None = None,
) -> tuple[DataFrame, DataFrame, int, int]:
    """Range-partition ``df`` on ``order_cols`` and compute per-
    partition prefix offsets.

    Returns ``(part, offsets, total_rows, total_sum)`` where ``part``
    is the pinned (checkpointed) frame carrying ``_pid`` and
    ``offsets`` is a broadcastable frame with, per ``_pid``,
    ``_row_off`` (rows in earlier partitions, bigint) and — when
    ``sum_col`` is given — ``_sum_off`` (that column's total in
    earlier partitions, DECIMAL(38,0): corpus-wide running sums
    outgrow bigint long before per-row values do).  ``total_sum`` is
    0 when no ``sum_col`` is requested.
    """
    part = materialize(
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    aggs = [F.count("*").alias("c")]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).alias("s"))
    stats = sorted(
        (r["_pid"], r["c"], (r["s"] if sum_col is not None else 0))
        for r in part.groupBy("_pid").agg(*aggs).collect()
    )
    total_rows = sum(c for _, c, _ in stats)
    total_sum = sum(s for _, _, s in stats)
    offsets, row_acc, sum_acc = [], 0, 0
    for pid, c, s in stats:
        offsets.append((pid, row_acc, Decimal(sum_acc)))
        row_acc += c
        sum_acc += s
    off_df = part.sparkSession.createDataFrame(
        offsets, "_pid int, _row_off bigint, _sum_off decimal(38,0)"
    )
    return part, off_df, total_rows, total_sum
