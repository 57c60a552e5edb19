"""As-of and range joins (SURVEY.md §7 M4 "range/as-of on events.ts").

Spark has no native ASOF JOIN; the scalable implementation is a
cogroup + ``pd.merge_asof`` per key group (Arrow-batched, one shuffle
per side on the join key — the same data movement a native as-of
would need).  The range join composes equi-join on the key with a
range predicate, which Catalyst executes as a shuffled equi-join plus
filter; at 100 TB you'd additionally bucketize the time axis so the
range predicate prunes (noted below).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from decisions_kinesis_spark.sources.tables import load_table

_ASOF_SCHEMA = (
    "event_id long, user_id long, ts timestamp, "
    "o_orderkey long, o_orderdate timestamp, o_totalprice double"
)


def _merge_asof_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Per-user as-of merge: latest order with o_orderdate <= ts.

    Right side is pre-deduplicated to one row per (custkey, orderdate)
    (max o_orderkey) so the match is deterministic across engines.
    """
    left = left.sort_values(["ts", "event_id"]).reset_index(drop=True)
    if right.empty:
        out = left.copy()
        out["o_orderkey"] = pd.Series([None] * len(out), dtype="Int64")
        out["o_orderdate"] = pd.Series([None] * len(out), dtype=left["ts"].dtype)
        out["o_totalprice"] = pd.Series([None] * len(out), dtype="float64")
        return out[
            ["event_id", "user_id", "ts", "o_orderkey", "o_orderdate", "o_totalprice"]
        ]
    right = right.sort_values("o_orderdate").reset_index(drop=True)
    merged = pd.merge_asof(
        left,
        right[["o_orderkey", "o_orderdate", "o_totalprice"]],
        left_on="ts",
        right_on="o_orderdate",
        direction="backward",
    )
    merged["o_orderkey"] = merged["o_orderkey"].astype("Int64")
    return merged[
        ["event_id", "user_id", "ts", "o_orderkey", "o_orderdate", "o_totalprice"]
    ]


def _union_carry_asof(
    spark: SparkSession, sf_dir: str, descending: bool
) -> DataFrame:
    """Union-carry as-of of events against the same user's orders: tag
    both sides, union, sort within user by (time, side, orderkey) in
    the given time direction, and carry the last non-null order struct
    forward with ``last(..., ignorenulls)``.  One shuffle + one sort."""
    events = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    orders = load_table(spark, "orders", sf_dir)
    left = events.select(
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_ev"),
        "event_id",
        "ts",
        F.lit(None)
        .cast("struct<o_orderkey:bigint,o_orderdate:timestamp,o_totalprice:double>")
        .alias("ord"),
    )
    right = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_ev"),
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.struct("o_orderkey", "o_orderdate", "o_totalprice").alias("ord"),
    )
    key = F.col("ord.o_orderkey")
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.desc("t") if descending else F.asc("t"),
            F.asc("is_ev"),
            key.desc_nulls_last() if descending else key.asc_nulls_last(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        left.unionByName(right)
        .withColumn("carried", F.last("ord", ignorenulls=True).over(w))
        .filter(F.col("is_ev") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("carried.o_orderkey").alias("o_orderkey"),
            F.col("carried.o_orderdate").alias("o_orderdate"),
            F.col("carried.o_totalprice").alias("o_totalprice"),
        )
    )


def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each event, the customer's most recent order as of the event
    time (backward as-of on user_id = o_custkey).

    Pure-JVM as-of via the union-carry trick (``_union_carry_asof``),
    no Python — ~15× faster than the cogroup/
    merge_asof variant (kept as ``asof_join_events_orders_pandas`` for
    per-group custom logic).  Ordering orders by ascending o_orderkey
    within a timestamp tie makes "latest order" deterministic (max
    orderkey wins), identical to the oracle's dedup rule.
    """
    return _union_carry_asof(spark, sf_dir, descending=False)


def asof_join_events_orders_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogroup + ``pd.merge_asof`` variant — same semantics/oracle as
    the window implementation; the extension point when the per-group
    merge needs custom Python (e.g. tolerance bands, nearest-match)."""
    events = load_table(spark, "events", sf_dir).select("event_id", "user_id", "ts")
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.desc("o_orderkey"))
    dedup = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )
    return (
        events.groupBy("user_id")
        .cogroup(dedup.groupBy("o_custkey"))
        .applyInPandas(lambda left, right: _merge_asof_group(left, right), _ASOF_SCHEMA)
    )


def range_join_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count of event pairs within a 5-minute forward window.

    Equi-join on user_id + integer-µs range predicate; Catalyst runs a
    shuffled equi-join with the range as a post-filter.  At 100 TB,
    bucketize ts into 5-min buckets and join on (user, bucket∈{b,b+1})
    so each row only meets candidates from adjacent buckets.
    """
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.col("event_id").alias("eid"), F.unix_micros("ts").alias("us")
    )
    e1 = ev.alias("e1")
    e2 = ev.alias("e2")
    pairs = e1.join(
        e2,
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.us") > F.col("e1.us"))
        & (F.col("e2.us") <= F.col("e1.us") + 300_000_000),
    )
    return (
        pairs.groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )


_STALENESS_DAYS = 30  # tolerance: matches older than this are nulled


def asof_join_with_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (feature-store semantics):
    the latest order as of the event time counts only if it is at most
    30 days old — older matches are nulled, exactly like merge_asof's
    ``tolerance``.  Built on the union-carry as-of, so the tolerance is
    one codegen'd conditional on top of the same single-shuffle plan."""
    base = asof_join_events_orders(spark, sf_dir)
    stale = F.col("o_orderdate").isNotNull() & (
        F.unix_micros("ts") - F.unix_micros("o_orderdate")
        > _STALENESS_DAYS * 86_400_000_000
    )
    return base.select(
        "event_id",
        "user_id",
        "ts",
        F.when(stale, F.lit(None)).otherwise(F.col("o_orderkey")).alias("o_orderkey"),
        F.when(stale, F.lit(None).cast("timestamp"))
        .otherwise(F.col("o_orderdate"))
        .alias("o_orderdate"),
        F.when(stale, F.lit(None)).otherwise(F.col("o_totalprice")).alias(
            "o_totalprice"
        ),
    )


def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: for each event, the customer's NEXT order at or
    after the event time (earliest o_orderdate >= ts; ties on the date
    go to the smallest o_orderkey) — the "time-to-next-action" shape
    (conversion attribution, churn labeling) that complements the
    backward as-of.

    Same single-shuffle union-carry plan as the backward variant, with
    the traversal REVERSED: sort descending time, orders before events
    at the same instant (at-or-after includes ties), same-date orders
    in descending orderkey so the carried last-seen struct is the
    smallest key.
    """
    return _union_carry_asof(spark, sf_dir, descending=True)


QUERIES = {
    "asof_join_events_orders": asof_join_events_orders,
    "asof_join_forward": asof_join_forward,
    "asof_join_with_tolerance": asof_join_with_tolerance,
    "asof_join_events_orders_pandas": asof_join_events_orders_pandas,
    "range_join_event_pairs": range_join_event_pairs,
}

ORACLES = {
    "asof_join_forward": """
        WITH dedup AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
                SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                             ORDER BY o_orderkey ASC) AS rn
                FROM orders
            ) WHERE rn = 1
        )
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate, o.o_totalprice
        FROM events e
        ASOF LEFT JOIN dedup o
          ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    """,
    "asof_join_with_tolerance": """
        WITH dedup AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
                SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                             ORDER BY o_orderkey DESC) AS rn
                FROM orders
            ) WHERE rn = 1
        ),
        matched AS (
            SELECT e.event_id, e.user_id, e.ts,
                   o.o_orderkey, o.o_orderdate, o.o_totalprice
            FROM events e
            ASOF LEFT JOIN dedup o
              ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        )
        SELECT event_id, user_id, ts,
               CASE WHEN stale THEN NULL ELSE o_orderkey END AS o_orderkey,
               CASE WHEN stale THEN NULL ELSE o_orderdate END AS o_orderdate,
               CASE WHEN stale THEN NULL ELSE o_totalprice END AS o_totalprice
        FROM (
            SELECT *,
                   o_orderdate IS NOT NULL
                   AND epoch_us(ts) - epoch_us(o_orderdate)
                       > 30::BIGINT * 86400000000 AS stale
            FROM matched
        )
    """,
    "asof_join_events_orders": """
        WITH dedup AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
                SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                             ORDER BY o_orderkey DESC) AS rn
                FROM orders
            ) WHERE rn = 1
        )
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate, o.o_totalprice
        FROM events e
        ASOF LEFT JOIN dedup o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    "asof_join_events_orders_pandas": """
        WITH dedup AS (
            SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
                SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                             ORDER BY o_orderkey DESC) AS rn
                FROM orders
            ) WHERE rn = 1
        )
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey, o.o_orderdate, o.o_totalprice
        FROM events e
        ASOF LEFT JOIN dedup o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    "range_join_event_pairs": """
        SELECT e1.user_id, count(*) AS n_pairs
        FROM events e1
        JOIN events e2
          ON e1.user_id = e2.user_id
         AND epoch_us(e2.ts) > epoch_us(e1.ts)
         AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 300000000
        GROUP BY e1.user_id
    """,
}
